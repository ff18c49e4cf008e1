"""WARC (Web ARChive, ISO 28500) ingestion — the raw-crawl source a
pretraining corpus starts from (Common Crawl publishes WARC; the
C4/CCNet/RefinedWeb pipelines all begin here).

The reference pipeline ingests zipped CSV (GTFS); this extends the
same landing-zone pattern (``sources/gtfs.py``'s executor-side tier)
to crawl archives, with ONLY the stdlib: WARC framing is
Content-Length-delimited text headers (parsed exactly, never
regex-split — payloads may contain ``WARC/1.0`` bytes), gzip WARCs
are per-record gzip MEMBERS concatenated (the Common Crawl layout),
which ``zlib.decompressobj`` iterates without any external package.

Scale design (100 TB posture):

* One WARC file = one task (``binaryFile`` source). That is the
  standard crawl-processing parallelism model: Common Crawl ships
  ~1 GB files in the tens of thousands per snapshot, so the file
  count — not intra-file splitting — provides the cluster's
  parallelism, and record parsing is a single sequential pass per
  file (framing makes random splits impossible anyway for .gz).
  MEASURED BOUND (r7, the 10 GB decade): ``binaryFile`` materializes
  the WHOLE archive in JVM memory, so archive bytes must fit the
  per-task heap — 32 concurrent ~300 MB archives OOM a 16 GB
  local[32] JVM (0.5 GB/task). Size archives to the task budget, or
  use :func:`read_warc_ranged` below: a member-offset index (one
  bounded-memory streaming pass per file, bytes never enter the JVM)
  turns ONE oversized archive into many byte-range tasks whose peak
  memory is the range size, not the file size — the cdx-index
  pattern Common Crawl itself ships for random access.
* Parsing runs in ONE Arrow-batched ``mapInPandas`` stage (justified
  Python: binary framing is not SQL); downstream filters/projections
  are plain columns, so Catalyst prunes and pushes as usual.
* HTML → text here is a deliberately naive stdlib ``HTMLParser``
  baseline (script/style dropped, block tags break lines). The
  extraction-quality knob (readability/trafilatura-class extractors)
  is a deployment swap inside the same Arrow stage — the plumbing,
  schema and tests don't change.
"""

from __future__ import annotations

import io
import zlib
from html.parser import HTMLParser

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "parse_warc_bytes",
    "parse_warc_records",
    "read_warc",
    "read_warc_ranged",
    "read_warc_stream",
    "warc_member_chunks",
    "resolve_range_reader",
    "LocalRangeReader",
    "HttpRangeReader",
    "ArrowFsRangeReader",
    "html_text",
    "html_text_density",
    "warc_to_documents",
    "wet_to_documents",
]

#: record schema produced by read_warc
WARC_SCHEMA = (
    "warc_file string, record_idx long, warc_type string, "
    "target_uri string, warc_date string, http_status int, "
    "content_type string, payload binary"
)


def _decompress_concat(data: bytes) -> bytes:
    """Decompress a concatenated-member gzip archive (the Common Crawl
    WARC layout: one member per record) to one stream.

    Hot path: STREAMING ``gzip.GzipFile.read()`` — its member loop
    prepends only the decompressor's small internal remainder, so it
    is linear in archive bytes (measured 1.1 s for a 78k-member 30 MB
    file). Neither ``gzip.decompress`` nor a naive per-member
    ``decompressobj`` loop qualifies: both re-slice the remaining
    tail once per member (``data = do.unused_data``), which is
    QUADRATIC at Common Crawl's ~100k members/file — one 30 MB file
    took 93 s / an entire measurement timeout before the r6 crawl
    decade caught it. The fallback for malformed archives (truncated
    final member, trailing garbage) is :func:`_iter_gzip_members` —
    itself linear via block feeding — preserving the
    stop-at-last-whole-member posture."""
    import gzip as _gz

    try:
        return _gz.GzipFile(fileobj=io.BytesIO(data)).read()
    except (OSError, EOFError, zlib.error):
        return b"".join(_iter_gzip_members(data))


def _parse_http_payload(payload: bytes):
    """Split an HTTP response payload into (status, content_type,
    body). Non-HTTP payloads come back as (None, None, payload)."""
    if not payload.startswith(b"HTTP/"):
        return None, None, payload
    head_end = payload.find(b"\r\n\r\n")
    if head_end < 0:
        return None, None, payload
    head = payload[:head_end].decode("latin-1", "replace")
    lines = head.split("\r\n")
    status = None
    parts = lines[0].split(" ", 2)
    if len(parts) >= 2 and parts[1].isdigit():
        status = int(parts[1])
    ctype = None
    for ln in lines[1:]:
        k, _, v = ln.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
            break
    return status, ctype, payload[head_end + 4 :]


def parse_warc_bytes(data: bytes, warc_file: str = ""):
    """Sequential WARC record parser over one (possibly .gz-member)
    archive's bytes → list of record dicts matching WARC_SCHEMA.

    Exact Content-Length framing: each record's payload is read as a
    byte count from its header, so payloads containing ``WARC/1.0``
    or header-like text can never split a record. Malformed records
    (bad header block, missing/invalid Content-Length, truncated
    payload) end the current stream segment — matching the
    corrupt-member-skip posture of the zip ingest tier.
    """
    if data[:2] == b"\x1f\x8b":
        stream = _decompress_concat(data)
    else:
        stream = data
    out = []
    pos = 0
    idx = 0
    n = len(stream)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and stream[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        # positional startswith — stream[pos:] would copy the
        # remaining archive once per record (quadratic at 100k
        # records/file; the r6 decade measurement caught it)
        if not stream.startswith(b"WARC/", pos):
            break  # framing lost: stop rather than guess
        head_end = stream.find(b"\r\n\r\n", pos)
        if head_end < 0:
            break
        headers: dict[str, str] = {}
        head_lines = stream[pos:head_end].decode("latin-1", "replace")
        for ln in head_lines.split("\r\n")[1:]:
            k, _, v = ln.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            break
        body_start = head_end + 4
        if body_start + clen > n:
            break  # truncated record
        payload = stream[body_start : body_start + clen]
        status, ctype, body = _parse_http_payload(payload)
        out.append(
            {
                "warc_file": warc_file,
                "record_idx": idx,
                "warc_type": headers.get("warc-type", ""),
                "target_uri": headers.get("warc-target-uri") or None,
                "warc_date": headers.get("warc-date") or None,
                "http_status": status,
                "content_type": ctype
                or headers.get("content-type") or None,
                "payload": body,
            }
        )
        idx += 1
        pos = body_start + clen
    return out


def read_warc(
    spark: SparkSession,
    path: str,
    types: tuple[str, ...] = ("response",),
) -> DataFrame:
    """Read a directory/glob of ``.warc`` / ``.warc.gz`` files into a
    record DataFrame (WARC_SCHEMA), keeping ``types`` record types
    (default: HTTP responses — what corpus building consumes).

    ``binaryFile`` source → one Arrow stage; the per-file sequential
    parse is the format's requirement (gzip members + length framing
    admit no mid-file splits), and file count provides parallelism.
    """
    binf = spark.read.format("binaryFile").load(path)
    return parse_warc_records(binf, types)


# ---------------------------------------------------------------------------
# Oversized-archive tier: byte-range partitioned reads via a
# member-offset index (the Common Crawl cdx pattern)
# ---------------------------------------------------------------------------

#: chunk-index schema: one row per byte range of whole gzip members
#: (or, for plain ``.warc``, whole Content-Length-framed records);
#: n_members = members/records inside the range, member_base = how
#: many precede it in its file (the global record-index offset — the
#: WARC/CC gzip layout is one record per member)
CHUNK_SCHEMA = (
    "path string, offset long, nbytes long, n_members long, "
    "member_base long"
)


def _local_path(p: str) -> str:
    """Hadoop listing paths arrive as ``file:/...`` URIs; Python
    ``open()`` wants the bare path. Only :class:`LocalRangeReader`
    calls this — other schemes resolve to other readers."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return p


class LocalRangeReader:
    """Ranged reads for ``file:``/bare paths via ``open``+``seek`` —
    the local/NFS default (zero per-call overhead)."""

    def open(self, path: str, offset: int = 0):
        fh = open(_local_path(path), "rb")
        if offset:
            fh.seek(offset)
        return fh

    def read_range(self, path: str, offset: int, nbytes: int) -> bytes:
        with self.open(path, offset) as fh:
            return fh.read(nbytes)


class HttpRangeReader:
    """Ranged reads over ``http(s)://`` via stdlib ``Range`` GETs —
    Common Crawl's own distribution channel serves exactly this
    access pattern (its cdx index is offsets into HTTPS-hosted
    ``.warc.gz``). A server that ignores Range (HTTP 200 instead of
    206) raises rather than silently re-downloading the whole file."""

    def open(self, path: str, offset: int = 0):
        from urllib.request import Request, urlopen

        hdrs = {"Range": f"bytes={offset}-"} if offset else {}
        resp = urlopen(Request(path, headers=hdrs))  # noqa: S310
        if offset and resp.status != 206:
            resp.close()
            raise OSError(
                f"{path}: server ignored Range (HTTP {resp.status}) — "
                "ranged WARC reads need a range-capable origin"
            )
        return resp

    def read_range(self, path: str, offset: int, nbytes: int) -> bytes:
        from urllib.request import Request, urlopen

        hdrs = {"Range": f"bytes={offset}-{offset + nbytes - 1}"}
        with urlopen(Request(path, headers=hdrs)) as resp:  # noqa: S310
            if resp.status != 206:
                raise OSError(
                    f"{path}: server ignored Range (HTTP {resp.status})"
                )
            return resp.read()


class ArrowFsRangeReader:
    """Ranged reads for object stores / HDFS via ``pyarrow.fs`` —
    baked into any pyarrow install, handles ``s3://``/``s3a://``,
    ``gs://``, ``hdfs://``, ``abfs://`` (scheme support depends on
    the pyarrow build; s3a is aliased to s3). Filesystem handles are
    cached per (scheme, authority) within the worker process."""

    def __init__(self) -> None:
        self._cache: dict = {}

    @staticmethod
    def _uri(path: str) -> str:
        # Hadoop's s3a/s3n connectors are the same store pyarrow
        # calls s3
        for hadoop, arrow in (("s3a://", "s3://"), ("s3n://", "s3://")):
            if path.startswith(hadoop):
                return arrow + path[len(hadoop):]
        return path

    def _fs(self, path: str):
        from pyarrow import fs as pafs

        uri = self._uri(path)
        scheme, tail = uri.split("://", 1)
        key = scheme + "://" + tail.split("/", 1)[0]
        got = self._cache.get(key)
        if got is None:
            # from_uri can hit the network (e.g. S3 region lookup) —
            # resolve once per (scheme, authority) per worker, and
            # derive later rel-paths textually from the first one.
            # The textual root is only trusted when from_uri provably
            # did NOT rewrite the path text (no percent-escapes, no
            # doubled slashes, rel ends with the suffix verbatim);
            # otherwise root=None and every path on this authority
            # re-resolves exactly — caching a mis-derived root would
            # 404 every later read on the store
            f, rel = pafs.FileSystem.from_uri(uri)
            suffix = uri[len(key):]
            root = (
                rel[: len(rel) - len(suffix)]
                if suffix
                and "%" not in suffix
                and "//" not in suffix
                and rel.endswith(suffix)
                else None
            )
            self._cache[key] = (f, root)
            return f, rel
        f, root = got
        suffix = uri[len(key):]
        if root is None or "%" in suffix or "//" in suffix:
            # normalized path: reuse the cached filesystem handle but
            # resolve this path's rel form exactly
            _, rel = pafs.FileSystem.from_uri(uri)
            return f, rel
        return f, root + suffix

    def open(self, path: str, offset: int = 0):
        f, rel = self._fs(path)
        fh = f.open_input_file(rel)
        if offset:
            fh.seek(offset)
        return fh

    def read_range(self, path: str, offset: int, nbytes: int) -> bytes:
        f, rel = self._fs(path)
        with f.open_input_file(rel) as fh:
            fh.seek(offset)
            return fh.read(nbytes)


#: per-process default readers — parse tasks resolve once per chunk
#: row, and a fresh ArrowFsRangeReader per row would repeat the
#: (possibly networked) filesystem resolution per chunk; module state
#: lives for the worker process, exactly the cache scope wanted
_DEFAULT_READERS: dict = {}


def resolve_range_reader(path: str, reader=None):
    """Pick the ranged-read client for ``path``: an explicit
    ``reader`` wins (the injection point — any object with
    ``open(path, offset)`` and ``read_range(path, offset, nbytes)``);
    otherwise ``file:``/bare → local open+seek, ``http(s)://`` →
    stdlib Range GETs, anything else → ``pyarrow.fs`` (s3/gs/hdfs/
    abfs). Resolution happens inside each task, so a reader passed on
    the driver rides the serialized closure to the executors; default
    readers are cached per worker process."""
    if reader is not None:
        return reader
    scheme = path.split("://", 1)[0] if "://" in path else "file"
    if scheme in ("file", ""):
        kind, mk = "file", LocalRangeReader
    elif scheme in ("http", "https"):
        kind, mk = "http", HttpRangeReader
    else:
        kind, mk = "arrow", ArrowFsRangeReader
    got = _DEFAULT_READERS.get(kind)
    if got is None:
        got = _DEFAULT_READERS.setdefault(kind, mk())
    return got


def _gzip_member_stream(fh, feed_bytes: int = 64 << 10, emit: bool = True):
    """LINEAR member walk over a concatenated-member gzip stream read
    sequentially from ``fh``: yields ``(end_offset, decompressed)``
    per WHOLE member (``decompressed`` is ``b""`` when ``emit`` is
    False — the boundary-only mode).

    The feed size is the linearity knob: on member end zlib
    materializes ``unused_data`` (a copy of the unconsumed feed
    tail), so total copying is ~``members × feed_bytes/2``. Feeding
    multi-MB blocks makes tiny-member archives (Common Crawl: one
    ~400-byte member per record) quadratic-per-block — MEASURED
    r8: the former 4 MB-block walk spent 38 s on an 8 MB / 142k-
    member chunk; 64 KB feeds walk the same chunk in well under a
    second. Large members cost only extra ``decompress`` calls,
    which the zlib work itself dominates. Stops at the first
    corrupt/truncated member, dropping any partial tail — the
    corrupt-member-skip posture of the zip tier."""
    d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
    out: list[bytes] = []
    pos = 0  # absolute offset consumed into `d` so far
    pending = b""
    while True:
        feed = pending or fh.read(feed_bytes)
        if not feed:
            return  # EOF; not-eof leftovers = truncated member, dropped
        pending = b""
        try:
            chunk = d.decompress(feed)
        except zlib.error:
            return  # trailing garbage: stop at the last whole member
        if emit:
            out.append(chunk)
        if d.eof:
            rest = d.unused_data  # <= one feed slice — linear overall
            pos += len(feed) - len(rest)
            yield pos, b"".join(out) if emit else b""
            out = []
            d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
            pending = rest
        else:
            pos += len(feed)


def _iter_gzip_members(data: bytes):
    """Decompressed bytes of each whole gzip member of an in-memory
    concatenated-member archive (see :func:`_gzip_member_stream` for
    the linearity argument)."""
    for _end, member in _gzip_member_stream(io.BytesIO(data)):
        yield member


def _plain_warc_record_offsets(fh, block_bytes: int = 4 << 20):
    """Stream a plain (uncompressed) ``.warc`` through ``fh.read``:
    returns ``(offsets, end)`` — the absolute start offset of every
    COMPLETE record (exact Content-Length framing, the same rules as
    :func:`parse_warc_bytes`) and the end offset of the last one.
    Bounded memory: the buffer holds at most one record header plus a
    block; payloads are skipped by counted reads, never buffered, so
    a 10 GB plain archive indexes on a 0.5 GB-heap executor exactly
    like the gzip walk. Works on any sequential reader (local file,
    HTTP response, pyarrow stream) — no ``seek`` required."""
    offs: list[int] = []
    buf = b""
    base = 0  # absolute offset of buf[0]
    pos = 0  # scan cursor within buf
    while True:
        # skip inter-record CRLFs
        while True:
            if len(buf) - pos < 2:
                more = fh.read(block_bytes)
                if not more:
                    return offs, base + pos
                buf = buf[pos:] + more
                base += pos
                pos = 0
            if buf[pos : pos + 2] == b"\r\n":
                pos += 2
            else:
                break
        if len(buf) - pos < 5:
            more = fh.read(block_bytes)
            if more:
                buf = buf[pos:] + more
                base += pos
                pos = 0
        if not buf.startswith(b"WARC/", pos):
            return offs, base + pos  # framing lost: stop
        rec_start = base + pos
        while True:
            he = buf.find(b"\r\n\r\n", pos)
            if he >= 0:
                break
            more = fh.read(block_bytes)
            if not more:
                return offs, rec_start  # truncated header: drop
            buf = buf[pos:] + more
            base += pos
            pos = 0
        head = buf[pos:he].decode("latin-1", "replace")
        # LAST Content-Length occurrence wins, invalid value stops the
        # segment — parse_warc_bytes' dict semantics exactly, so both
        # passes frame a duplicated-header record identically (a
        # first-wins walk here would desync the chunk index from the
        # parse and trip the stale-index cross-check)
        clen_s = None
        for ln in head.split("\r\n")[1:]:
            k, _, v = ln.partition(":")
            if k.strip().lower() == "content-length":
                clen_s = v.strip()
        try:
            clen = int(clen_s) if clen_s is not None else None
        except ValueError:
            clen = None
        if clen is None:
            return offs, rec_start  # unframeable: stop
        body_end = he + 4 + clen  # relative to buf[0]
        if body_end <= len(buf):
            pos = body_end
        else:
            need = body_end - len(buf)
            base += len(buf)
            buf = b""
            pos = 0
            while need:
                got = fh.read(min(block_bytes, need))
                if not got:
                    return offs, rec_start  # truncated payload: drop
                need -= len(got)
                base += len(got)
        offs.append(rec_start)


def warc_member_chunks(
    spark: SparkSession,
    path: str,
    chunk_bytes: int = 64 << 20,
    files: list | None = None,
    reader=None,
) -> DataFrame:
    """Build a byte-range chunk index for WARC archives:
    ``(path, offset, nbytes, n_members, member_base)`` rows where
    every range starts on a unit boundary and contains whole units
    totalling ~``chunk_bytes`` — units are gzip members for
    ``.warc.gz`` (the CC one-record-per-member layout) and
    Content-Length-framed records for plain ``.warc`` (so the ranged
    tier's per-task memory bound holds for uncompressed archives too,
    instead of degrading to one whole-file chunk).

    The walk STREAMS each file in 4 MB reads — peak memory
    is a few blocks, and the archive's bytes never enter the JVM
    (contrast ``binaryFile``, which holds the whole file per task).
    One pass per file is the index's cost; Common Crawl ships the
    equivalent (cdx) with every snapshot precisely so consumers never
    pay a whole-file task. Files are one task each here too, but a
    task's memory is O(block), so a 10 GB archive indexes fine on a
    0.5 GB-heap executor.

    ``files`` skips the Hadoop listing (pass explicit URLs — e.g.
    Common Crawl's ``warc.paths`` over HTTPS, where no Hadoop
    connector exists); ``reader`` injects a ranged-read client (see
    :func:`resolve_range_reader` for the defaults per scheme)."""
    if files is not None:
        f = spark.createDataFrame([(str(x),) for x in files], "path string")
    else:
        f = spark.read.format("binaryFile").load(path).select("path")
        # paths only — binaryFile reads content lazily; selecting the
        # path column keeps the scan metadata-only (no file bytes read)

    def walk(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                rd = resolve_range_reader(p, reader)
                fh = rd.open(p)
                try:
                    head = fh.read(2)
                    if head == b"\x1f\x8b":
                        boundaries = _gzip_boundary_walk(fh, head)
                    else:
                        offs, end = _plain_warc_record_offsets(
                            _Prepend(head, fh)
                        )
                        boundaries = offs + [end] if offs else [0]
                finally:
                    fh.close()
                if len(boundaries) <= 1:
                    continue  # empty/garbage file: nothing parseable
                # coalesce unit boundaries into ~chunk_bytes ranges
                start = boundaries[0]
                members = 0
                ubase = 0
                for cur in boundaries[1:]:
                    members += 1
                    if cur - start >= chunk_bytes:
                        rows.append((p, start, cur - start, members, ubase))
                        ubase += members
                        start, members = cur, 0
                if members:
                    rows.append(
                        (p, start, boundaries[-1] - start, members, ubase)
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "path", "offset", "nbytes", "n_members",
                        "member_base",
                    ],
                )

    return f.mapInPandas(walk, schema=CHUNK_SCHEMA)


class _Prepend:
    """Sequential reader that replays ``head`` before ``fh`` — lets
    the magic-byte sniff hand the stream to a scanner unseeked (HTTP
    responses can't rewind)."""

    def __init__(self, head: bytes, fh) -> None:
        self._head = head
        self._fh = fh

    def read(self, n: int) -> bytes:
        if self._head:
            out, self._head = self._head[:n], self._head[n:]
            if len(out) < n:
                out += self._fh.read(n - len(out))
            return out
        return self._fh.read(n)


def _gzip_boundary_walk(fh, head: bytes) -> list:
    """Member-boundary offsets of a concatenated-member gzip stream
    read sequentially from ``fh`` (``head`` = bytes already sniffed).
    Decompressed output is discarded — only offsets are kept (the
    stream walk feeds 64 KB slices — see :func:`_gzip_member_stream`)."""
    boundaries = [0]
    src = _Prepend(head, fh)
    for end_off, _ in _gzip_member_stream(src, emit=False):
        boundaries.append(end_off)
    return boundaries


def read_warc_ranged(
    spark: SparkSession,
    path: str,
    types: tuple[str, ...] = ("response",),
    chunk_bytes: int = 64 << 20,
    files: list | None = None,
    reader=None,
) -> DataFrame:
    """:func:`read_warc` for archives BIGGER than the per-task heap:
    parse byte ranges of whole gzip members (or, for plain ``.warc``,
    whole records) instead of whole files.

    Each task issues one ranged read (local ``seek``, HTTP ``Range``
    GET, or object-store ranged GET via ``pyarrow.fs`` — per-scheme
    defaults in :func:`resolve_range_reader`, overridable with
    ``reader=``) — peak memory is the chunk size (plus its
    decompressed text), independent of archive size, and intra-file
    parallelism equals the chunk count, so ONE 10 GB archive fans out
    across the cluster instead of serializing through (and OOMing) a
    single task. Record ids stay deterministic: gzip members are
    parsed ONE AT A TIME and each must hold exactly one record (the
    CC layout), so ``record_idx = member_base + member_ordinal``
    matches the whole-file read exactly; an archive violating
    one-record-per-member raises (use :func:`read_warc`) instead of
    silently mis-rebasing. The stable cross-run identity remains
    (warc_file, target_uri) — the contract the corpus builder keys
    doc ids on.

    The chunk index (:func:`warc_member_chunks`) is localCheckpointed,
    so the one-decompression-pass walk runs ONCE (the count below
    would otherwise recompute it through the repartition job)."""
    idx = warc_member_chunks(
        spark, path, chunk_bytes=chunk_bytes, files=files,
        reader=reader,
    ).localCheckpoint(eager=True)
    types_set = set(types)

    def parse_ranges(batches):
        import pandas as pd

        for pdf in batches:
            for p, off, nb, n_m, base in zip(
                pdf["path"], pdf["offset"], pdf["nbytes"],
                pdf["n_members"], pdf["member_base"],
            ):
                rows = []
                rd = resolve_range_reader(p, reader)
                blob = rd.read_range(p, int(off), int(nb))
                if blob[:2] == b"\x1f\x8b":
                    # per-MEMBER parse: validates one-record-per-member
                    # on every member (a 2-record member next to a
                    # 0-record member can no longer cancel out in a
                    # chunk-level count) and makes the rebased
                    # record_idx exact by construction
                    mi = 0
                    for member in _iter_gzip_members(blob):
                        mrecs = parse_warc_bytes(member, p)
                        if len(mrecs) != 1:
                            raise ValueError(
                                f"{p} range@{int(off)} member {mi}: "
                                f"{len(mrecs)} records in one gzip "
                                "member — record_idx rebasing requires "
                                "the one-record-per-member layout; use "
                                "read_warc for this archive"
                            )
                        rec = mrecs[0]
                        rec["record_idx"] = int(base) + mi
                        mi += 1
                        if not types_set or rec["warc_type"] in types_set:
                            rows.append(rec)
                    if int(n_m) and mi != int(n_m):
                        raise ValueError(
                            f"{p} range@{int(off)}: {mi} members parsed, "
                            f"index recorded {int(n_m)} — stale chunk "
                            "index? rebuild with warc_member_chunks"
                        )
                else:
                    recs = parse_warc_bytes(blob, p)
                    if int(n_m) and len(recs) != int(n_m):
                        raise ValueError(
                            f"{p} range@{int(off)}: {len(recs)} records, "
                            f"index recorded {int(n_m)} — stale chunk "
                            "index? rebuild with warc_member_chunks"
                        )
                    for rec in recs:
                        rec["record_idx"] = int(base) + rec["record_idx"]
                        if not types_set or rec["warc_type"] in types_set:
                            rows.append(rec)
                # yield per CHUNK, not per Arrow batch: peak memory
                # stays one chunk's records even when several chunks
                # share a task (see partition cap below)
                if rows:
                    yield pd.DataFrame(rows)

    # Spread chunks of the same file across the cluster. The
    # partition count is capped at 2x the live parallelism rather
    # than one-chunk-per-task: at production chunk sizes (64 MB) the
    # cap is far above the chunk count and behavior is unchanged, but
    # a small-chunk index (e.g. the 4 KB roundtrip gate) otherwise
    # degenerates into hundreds of ~30 ms Python micro-tasks whose
    # scheduling/Arrow overhead dwarfs the parsing (measured r10:
    # 8.4 s -> task-bound for a 250-chunk index on 32 cores). Peak
    # memory stays one chunk per the per-chunk yield above.
    n = max(idx.count(), 1)
    par = spark.sparkContext.defaultParallelism
    return (
        idx.repartition(min(n, max(2 * par, 1)), "path", "offset")
        .mapInPandas(parse_ranges, schema=WARC_SCHEMA)
    )


#: binaryFile's fixed schema — file stream sources require it spelled
#: out (spark.readStream refuses schema inference)
BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def read_warc_stream(
    spark: SparkSession,
    path: str,
    types: tuple[str, ...] = ("response",),
) -> DataFrame:
    """Streaming twin of :func:`read_warc`: watch a LANDING DIRECTORY
    for crawl archives and parse each new file exactly once — the
    continuous-crawl front end (Common Crawl-style operations land
    ``.warc.gz`` files; the stream picks them up as they arrive).

    Same parse stage as the batch tier (:func:`parse_warc_records`),
    so plan shape, framing posture and extractor knobs are identical;
    the file-stream source tracks processed files in the query
    checkpoint, which is what makes per-file exactly-once replay
    possible downstream.
    """
    reader = spark.readStream.format("binaryFile").schema(
        BINARYFILE_SCHEMA
    )
    return parse_warc_records(reader.load(path), types)


def parse_warc_records(
    files: DataFrame, types: tuple[str, ...] = ("response",)
) -> DataFrame:
    """The parse stage of :func:`read_warc`, over any ``(path,
    content)`` frame — one archive's bytes per row. Exposed so
    in-plan-constructed archives (the driver-gated roundtrip query,
    tests) exercise the production parser without touching disk;
    ``types=()`` keeps every record type."""
    types_set = set(types)

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for rec in parse_warc_bytes(bytes(content), fpath):
                    if not types_set or rec["warc_type"] in types_set:
                        rows.append(rec)
            if rows:
                yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(
        parse, schema=WARC_SCHEMA
    )


class _TextExtractor(HTMLParser):
    _SKIP = {"script", "style", "noscript", "template"}
    _BLOCK = {
        "p", "div", "br", "li", "tr", "h1", "h2", "h3", "h4", "h5",
        "h6", "section", "article", "header", "footer", "table",
        "blockquote", "pre",
    }

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._chunks: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip_depth += 1
        elif tag in self._BLOCK:
            self._chunks.append("\n")

    def handle_endtag(self, tag):
        if tag in self._SKIP and self._skip_depth > 0:
            self._skip_depth -= 1
        elif tag in self._BLOCK:
            self._chunks.append("\n")

    def handle_data(self, data):
        if self._skip_depth == 0:
            self._chunks.append(data)

    def text(self) -> str:
        lines = "".join(self._chunks).split("\n")
        return "\n".join(
            " ".join(ln.split()) for ln in lines if ln.strip()
        )


def html_text(html: str) -> str:
    """Naive stdlib HTML → text: scripts/styles dropped, block tags
    become line breaks, whitespace normalized. The documented baseline
    extractor — swap a readability-class library here in deployment.
    """
    p = _TextExtractor()
    try:
        p.feed(html)
        p.close()
    except Exception:
        return ""
    return p.text()


class _BlockExtractor(HTMLParser):
    """Segment HTML into text BLOCKS with word/anchor-word counts —
    the input of the density classifier below. A block is the text
    between two block-level tag boundaries; words inside ``<a>`` count
    toward its link density."""

    _SKIP = _TextExtractor._SKIP
    _BLOCK = _TextExtractor._BLOCK

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[int, int, str]] = []  # (words, anchor, text)
        self._buf: list[str] = []
        self._anchor_words = 0
        self._skip_depth = 0
        self._a_depth = 0

    def _flush(self) -> None:
        text = " ".join("".join(self._buf).split())
        if text:
            self.blocks.append(
                (len(text.split()), self._anchor_words, text)
            )
        self._buf = []
        self._anchor_words = 0

    def handle_starttag(self, tag, attrs):
        if tag in self._SKIP:
            self._skip_depth += 1
        elif tag in self._BLOCK:
            self._flush()
        elif tag == "a":
            self._a_depth += 1

    def handle_endtag(self, tag):
        if tag in self._SKIP and self._skip_depth > 0:
            self._skip_depth -= 1
        elif tag in self._BLOCK:
            self._flush()
        elif tag == "a" and self._a_depth > 0:
            self._a_depth -= 1

    def handle_data(self, data):
        if self._skip_depth:
            return
        self._buf.append(data)
        if self._a_depth:
            self._anchor_words += len(data.split())


def html_text_density(html: str) -> str:
    """Boilerplate-aware HTML → text: block-level word-count /
    link-density classification — a stdlib reimplementation of the
    shallow-features classifier from Kohlschütter, Fankhauser &
    Nejdl, "Boilerplate Detection using Shallow Text Features" (WSDM
    2010; the boilerpipe ``NumWordsRulesClassifier`` decision rules,
    which their evaluation found within a point of the full model).

    Per block: ``words`` and ``link_density`` (anchor words / words).
    A block is CONTENT iff its link density ≤ 1/3 and either it is
    long (>16 words), or its neighbors indicate running text (next
    block >15 words, or previous block >4 words under a low-link
    previous context; a link-heavy previous block raises the bar to
    >40 own / >17 next) — navigation, footers and related-link lists
    are short AND link-dense on both sides, so they fail every arm.

    Pure function of the HTML string (same contract as
    :func:`html_text`), so the extractor swap is one column expression
    inside the same Arrow stage — schema, partitioning and batch shape
    unchanged.
    """
    p = _BlockExtractor()
    try:
        p.feed(html)
        p.close()
        p._flush()
    except Exception:
        return ""
    blocks = p.blocks
    out: list[str] = []
    for i, (words, anchor, text) in enumerate(blocks):
        ld = anchor / words if words else 0.0
        if ld > 1 / 3:
            continue
        p_words, p_anchor = (
            (blocks[i - 1][0], blocks[i - 1][1]) if i > 0 else (0, 0)
        )
        n_words = blocks[i + 1][0] if i + 1 < len(blocks) else 0
        p_ld = p_anchor / p_words if p_words else 0.0
        if p_ld <= 0.555556:
            is_content = words > 16 or n_words > 15 or p_words > 4
        else:
            is_content = words > 40 or n_words > 17
        if is_content:
            out.append(text)
    return "\n".join(out)


#: extractor registry for warc_to_documents / e6_crawl_corpus
_EXTRACTORS = {"naive": html_text, "density": html_text_density}


def warc_to_documents(
    records: DataFrame, extractor: str = "naive"
) -> DataFrame:
    """HTTP-response records → document rows ``(doc_id, url, fetched,
    text)`` ready for the corpus pipeline (E4/E5): keep 200-status
    HTML responses, decode UTF-8 (replace), extract text.

    ``doc_id`` is a deterministic 60-bit hash of (file, record index)
    — the id convention the dedup operators key on. ``file`` is the
    archive's FULL path as read, so ids repeat across reruns and
    engines only while the landing stays at the same path: moving or
    re-staging the archives changes every id, and with it which copy
    wins each min-id election (URL dedup, fingerprint and near-dup
    survivors). One Arrow stage for the extraction; everything else
    is native columns.

    ``extractor``: ``"naive"`` (all visible text, block tags → line
    breaks) or ``"density"`` (:func:`html_text_density` — block-level
    word-count/link-density boilerplate classification; strips nav,
    footers and link lists that the naive tier keeps). Both run inside
    the same Arrow stage — swapping costs nothing in plan shape.
    """
    from vbb_data_pipeline_spark.functions.hashing import md5_long

    extract_fn = _EXTRACTORS[extractor]
    html = records.filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("content_type").rlike("(?i)text/html")
    )

    @F.pandas_udf("string")
    def extract(payload):
        import pandas as pd

        return pd.Series(
            [
                extract_fn(
                    bytes(b).decode("utf-8", "replace") if b is not None else ""
                )
                for b in payload
            ]
        )

    return html.select(
        md5_long(
            F.concat_ws("|", F.col("warc_file"), F.col("record_idx"))
        ).alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("warc_date").alias("fetched"),
        extract(F.col("payload")).alias("text"),
    )


def wet_to_documents(records: DataFrame) -> DataFrame:
    """WET records → document rows ``(doc_id, url, fetched, text)``.

    WET is Common Crawl's pre-extracted-text distribution: the same
    ISO 28500 container as WARC, but records are ``WARC-Type:
    conversion`` and the payload is already plain UTF-8 text (no HTTP
    envelope, no HTML). Many corpus pipelines (C4 among them,
    Raffel et al. 2020) start from WET rather than WARC, so the
    engine reads both: ``read_warc(spark, path, types=("conversion",))``
    then this bridge.

    No Python stage at all — the payload-to-text decode is a native
    binary→string cast (UTF-8, codegen), so the whole bridge stays in
    whole-stage codegen; ``doc_id`` follows the same deterministic
    (file, record index) convention as :func:`warc_to_documents`.
    """
    from vbb_data_pipeline_spark.functions.hashing import md5_long

    conv = records.filter(F.col("warc_type") == "conversion")
    return conv.select(
        md5_long(
            F.concat_ws("|", F.col("warc_file"), F.col("record_idx"))
        ).alias("doc_id"),
        F.col("target_uri").alias("url"),
        F.col("warc_date").alias("fetched"),
        F.col("payload").cast("string").alias("text"),
    )

"""File sources: parquet, CSV, text lines, JSON.

CSV parity targets the reference extractor
(``/root/reference/src/Extractors/File/CsvExtractor.php:34-139``): optional
header, custom separator/quote/escape, UTF BOM handling, Excel ``sep=``
sniffing, blank-line skip, newline-inside-quotes safety. Spark's CSV reader
covers BOM/multiLine/encoding natively; ``sep=`` sniffing is done here by
peeking at the first bytes of one file (driver-side, O(1) I/O).

Text-line parity targets ``LineExtractor.php:15-36``: one trimmed,
non-empty line per record.
"""

from __future__ import annotations

import glob as _glob
import itertools as _it
import os
import re as _re
import warnings
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import Source

# Session-scoped parquet relation cache. ``spark.read.parquet(path)``
# re-lists the path and re-infers the schema from footers on EVERY call
# (~300 ms driver-side per call locally; at 100 TB the inference step is
# a distributed many-footer job) — pure metadata work with an identical
# outcome within a session. Catalog tables get this for free from the
# metastore's relation cache; path-based reads do not, so we memoize the
# *unexecuted* scan DataFrame per (session, path, stat-key). This caches
# no data and no results: every execution still scans the parquet files.
# Staleness: the key embeds mtime_ns/size of the file (for directories,
# of the dir and its immediate children), so a rewrite through any
# writer invalidates naturally; anything we cannot cheaply fingerprint
# (remote URIs, globs, nested partition trees) is simply not cached.
_SCAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _scan_cache_key(path: str):
    """Stat-based fingerprint of a local parquet path, or None when the
    path cannot be fingerprinted cheaply and exactly (remote scheme,
    glob, missing, or a partition-nested directory)."""
    if not _is_local_path(path):
        return None
    p = _strip_file_scheme(path)
    try:
        st = os.stat(p)
    except OSError:
        return None
    if not os.path.isdir(p):
        return (path, st.st_mtime_ns, st.st_size)
    entries = []
    try:
        with os.scandir(p) as it:
            for e in it:
                if e.is_dir(follow_symlinks=False):
                    # nested partition dirs: a leaf rewrite may not touch
                    # any depth-1 mtime — decline to cache
                    return None
                es = e.stat(follow_symlinks=False)
                entries.append((e.name, es.st_mtime_ns, es.st_size))
    except OSError:
        return None
    entries.sort()
    return (path, st.st_mtime_ns, tuple(entries))


def _cached_parquet_scan(spark: SparkSession, path: str) -> DataFrame:
    key = _scan_cache_key(path)
    if key is None:
        return spark.read.parquet(path)
    cache = _SCAN_CACHE.setdefault(spark, {})
    df = cache.get(key)
    if df is None:
        df = spark.read.parquet(path)
        # drop stale fingerprints of the same path before inserting
        for k in [k for k in cache if k[0] == path]:
            del cache[k]
        cache[key] = df
    return df


class ParquetSource(Source):
    def __init__(self, path: str, columns: list[str] | None = None, **kw):
        super().__init__(**kw)
        self.path = path
        self.columns = columns

    def load(self, spark: SparkSession) -> DataFrame:
        df = _cached_parquet_scan(spark, self.path)
        if self.columns:
            df = df.select(*self.columns)  # column pruning reaches the scan
        return df

    def _parallelism_cache_key(self):
        return _scan_cache_key(self.path)


class OrcSource(Source):
    """ORC scan — same contract as :class:`ParquetSource` (columnar,
    predicate/column pushdown via the native ORC reader)."""

    def __init__(self, path: str, columns: list[str] | None = None, **kw):
        super().__init__(**kw)
        self.path = path
        self.columns = columns

    def load(self, spark: SparkSession) -> DataFrame:
        df = spark.read.orc(self.path)
        if self.columns:
            df = df.select(*self.columns)
        return df


# longest-first so the UTF-32 BOMs win over their UTF-16 prefixes; the
# endianness-agnostic Java charset names ("UTF-16"/"UTF-32") are
# deliberate — they CONSUME the BOM while decoding, so the first field
# never carries a stray U+FEFF (reference: fab2s/OpinHelpers Bom via
# src/Traits/FileHandlerTrait.php:26-61)
_BOM_ENCODINGS: tuple[tuple[bytes, str], ...] = (
    (b"\xff\xfe\x00\x00", "UTF-32"),  # UTF-32LE
    (b"\x00\x00\xfe\xff", "UTF-32"),  # UTF-32BE
    (b"\xff\xfe", "UTF-16"),          # UTF-16LE
    (b"\xfe\xff", "UTF-16"),          # UTF-16BE
    (b"\xef\xbb\xbf", "UTF-8"),
)


def _is_local_path(path: str) -> bool:
    """True when the path resolves on the driver's local filesystem —
    bare paths and ``file:`` URIs; ``s3a://``/``hdfs://``/… are not."""
    m = _re.match(r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", path)
    return m is None or m.group(1) == "file"


def _strip_file_scheme(path: str) -> str:
    """``file:///x`` / ``file:/x`` → ``/x`` — Spark accepts file: URIs
    but ``open()``/``glob`` need the bare path."""
    m = _re.match(r"^file:(//)?(/.*)$", path)
    return m.group(2) if m else path


def _candidate_files(path: str):
    """Yield the regular files a path/glob/dir resolves to (driver-side,
    lazy — callers stop at the first READABLE file, so sniffers degrade
    past an unreadable first candidate instead of giving up). ``file:``
    URIs are normalized to bare paths first."""
    path = _strip_file_scheme(path)
    candidates = (
        sorted(_glob.glob(path)) if any(c in path for c in "*?[") else [path]
    )
    for p in candidates:
        if os.path.isdir(p):
            inner = sorted(_glob.glob(os.path.join(p, "*")))
            yield from (i for i in inner if os.path.isfile(i))
        else:
            yield p


# bounded driver-side I/O: how many glob candidates the BOM sniffer will
# open looking for a readable file / checking encoding agreement
_SNIFF_MAX_FILES = 8


def _sniff_bom_encoding(path: str) -> str | None:
    """Detect the file encoding from its BOM (UTF-8/16/32, either
    endianness) — FileHandlerTrait parity. Returns None when no BOM.

    Driver-side ``open()`` only works for local paths; for object-store
    URIs (``s3a://``…) sniffing is impossible here, so this WARNS and
    returns None (UTF-8 fallback) instead of failing silently — pass an
    explicit ``encoding=`` for remote data. Unreadable candidates are
    skipped (try-next, like the sep sniffer always did); the first
    ``_SNIFF_MAX_FILES`` candidates are checked for BOM agreement and a
    mixed-encoding glob warns before using the first file's answer."""
    if not _is_local_path(path):
        warnings.warn(
            f"encoding='auto' cannot BOM-sniff non-local path {path!r}; "
            "falling back to UTF-8 — pass an explicit encoding= for "
            "object-store data",
            stacklevel=3,
        )
        return None
    seen: list[str | None] = []
    for p in _it.islice(_candidate_files(path), _SNIFF_MAX_FILES):
        try:
            with open(p, "rb") as fh:
                head = fh.read(4)
        except OSError:
            continue  # unreadable candidate: try the next one
        seen.append(next(
            (enc for bom, enc in _BOM_ENCODINGS if head.startswith(bom)),
            None,
        ))
    if not seen:
        return None
    if len(set(seen)) > 1:
        warnings.warn(
            f"encoding='auto' found mixed BOMs across files of {path!r} "
            f"({sorted({str(s) for s in seen})}); using the first file's "
            f"({seen[0] or 'UTF-8'}) — split the inputs or pass encoding=",
            stacklevel=3,
        )
    return seen[0]


def _sniff_sep_line(path: str, encoding: str) -> str | None:
    """Return the separator from an Excel ``sep=X`` first line, if present.
    Unreadable candidates are skipped (try-next); non-local paths can't be
    sniffed driver-side and return None."""
    if not _is_local_path(path):
        return None
    for p in _candidate_files(path):
        try:
            with open(p, "rb") as fh:
                head = fh.read(64)
        except OSError:
            continue  # unreadable candidate: try the next one
        # strip the BOM before sniffing — and decode the REMAINDER with
        # the BOM's exact-endianness codec: a stripped-BOM "UTF-16"
        # decode would assume LE and turn a BE file into garbage
        codec = encoding
        for bom, c in _BOM_CODECS:
            if head.startswith(bom):
                head = head[len(bom):]
                codec = c
                break
        try:
            text = head.decode(codec, errors="ignore")
        except LookupError:
            text = head.decode("utf-8", errors="ignore")
        # a doubled BOM (writer added U+FEFF to already-BOM'd output)
        # survives decode as a leading char — drop it
        first = text.splitlines()[0].lstrip("\ufeff") if text.splitlines() else ""
        if first.lower().startswith("sep=") and len(first) >= 5:
            return first[4]
        return None
    return None


# BOM → exact-endianness codec, longest BOM first (the UTF-32LE BOM
# starts with the UTF-16LE one)
_BOM_CODECS: tuple[tuple[bytes, str], ...] = (
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
    (b"\xef\xbb\xbf", "utf-8"),
)


def _exact_codec(encoding: str) -> str:
    """Normalize a caller/sniffer encoding name to an exact-endianness
    Python codec for byte-level preamble surgery: BOM-less "UTF-16"/
    "UTF-32" decode as LE in Python, so encode the probe bytes as LE
    too (encoding via the endianness-agnostic codec would EMIT a BOM)."""
    try:
        import codecs

        name = codecs.lookup(encoding).name
    except LookupError:
        return "utf-8"
    return {"utf-16": "utf-16-le", "utf-32": "utf-32-le"}.get(name, name)


def _strip_preamble_one(path: str, encoding: str) -> str:
    """Copy ONE Excel ``sep=``-preamble CSV to a temp file without the
    preamble line (BOM preserved). Returns the temp path.

    The strip is ENCODING-AWARE: in UTF-16/32 files ``sep=`` and the
    newline are multi-byte sequences, so a byte-wise ``find(b"\\n")``
    would cut mid-codepoint and leave the preamble in place (the header
    row then parses as ``sep=;``). The BOM pins the exact codec;
    BOM-less files use the caller's (explicit or sniffed) encoding —
    not a blind utf-8 assumption."""
    import tempfile

    raw = open(path, "rb").read()
    bom, codec = b"", _exact_codec(encoding)
    for b, c in _BOM_CODECS:
        if raw.startswith(b):
            bom, codec, raw = b, c, raw[len(b):]
            break
    nl_b = "\n".encode(codec)
    sep_b = "sep=".encode(codec)
    nl = raw.find(nl_b)
    if nl >= 0 and raw[: len(sep_b)].lower() == sep_b:
        raw = raw[nl + len(nl_b):]
    tmp = tempfile.NamedTemporaryFile(
        suffix=".csv", prefix="yaetl_sep_", delete=False
    )
    tmp.write(bom + raw)
    tmp.close()
    return tmp.name


def _strip_preamble_copy(path: str, encoding: str) -> str:
    """Strip the Excel ``sep=`` preamble from EVERY file the path/glob/
    dir resolves to (the sniffers are multi-candidate-aware, so the
    stripper must be too — a glob whose files carry preambles would
    otherwise crash on ``open(glob_pattern)`` or strip only one file).
    Returns a path Spark can read: the single temp file, or a temp
    directory of stripped copies for multi-file resolutions. ``sep=``
    files are small Excel exports; the driver-side rewrite is bounded
    by that."""
    import shutil
    import tempfile

    files = list(_candidate_files(path))
    if not files:
        raise FileNotFoundError(
            f"CsvSource: {path!r} resolved to zero readable files — "
            "nothing to strip the sep= preamble from (Spark would "
            "otherwise fail later on an empty temp directory)"
        )
    if len(files) == 1:
        return _strip_preamble_one(files[0], encoding)
    tmp_dir = tempfile.mkdtemp(prefix="yaetl_sep_")
    moved = 0
    for i, f in enumerate(files):
        try:
            stripped = _strip_preamble_one(f, encoding)
        except OSError:
            continue  # unreadable candidate: skip, like the sniffers
        # index prefix: a glob can resolve SAME-NAMED files in different
        # directories — flattening by bare basename would clobber all
        # but one copy (shutil.move overwrites)
        shutil.move(
            stripped,
            os.path.join(tmp_dir, f"{i:05d}_{os.path.basename(f)}"),
        )
        moved += 1
    if moved == 0:
        raise FileNotFoundError(
            f"CsvSource: none of the {len(files)} files of {path!r} "
            "were readable while stripping the sep= preamble"
        )
    return tmp_dir


class CsvSource(Source):
    """CSV scan with reference-parity options.

    ``sep='auto'`` sniffs an Excel ``sep=`` preamble line (and skips it);
    ``encoding='auto'`` (the default) sniffs the encoding from the file
    BOM — UTF-8 / UTF-16 LE+BE / UTF-32 LE+BE, reference
    ``src/Traits/FileHandlerTrait.php:26-61`` — falling back to UTF-8
    when no BOM is present (a no-behavior-change default: BOM-less files
    read exactly as before). ``multiLine=True`` keeps embedded newlines
    inside quoted fields safe — note multiLine disables intra-file split
    parallelism, so leave it off for huge machine-written CSVs that
    never embed newlines (and note non-UTF-8 encodings NEED multiLine,
    or an explicit lineSep, for Spark to split records correctly).
    """

    def __init__(
        self,
        path: str,
        header: bool = True,
        sep: str = ",",
        quote: str = '"',
        escape: str = '"',
        encoding: str = "auto",
        multi_line: bool = True,
        schema: str | None = None,
        infer_schema: bool = False,
        field_names: list[str] | None = None,
        **kw,
    ):
        super().__init__(**kw)
        self.path = path
        self.header = header
        self.sep = sep
        self.quote = quote
        self.escape = escape
        self.encoding = encoding
        self.multi_line = multi_line
        self.schema = schema
        self.infer_schema = infer_schema
        self.field_names = field_names

    def load(self, spark: SparkSession) -> DataFrame:
        sep = self.sep
        path = self.path
        encoding = self.encoding
        if encoding == "auto":
            encoding = _sniff_bom_encoding(self.path) or "UTF-8"
        if sep == "auto":
            sniffed = _sniff_sep_line(self.path, encoding)
            sep = sniffed or ","
            if sniffed is not None:
                # Strip the Excel preamble line up front so header parsing
                # stays correct. ``sep=`` files are Excel-origin exports —
                # inherently small, single-file artifacts — so a driver-side
                # rewrite is appropriate; bulk machine-written CSV never
                # carries a preamble and never enters this path.
                path = _strip_preamble_copy(self.path, encoding)
        reader = (
            spark.read.option("header", self.header)
            .option("sep", sep)
            .option("quote", self.quote)
            .option("escape", self.escape)
            .option("encoding", encoding)
            .option("multiLine", self.multi_line)
            .option("mode", "PERMISSIVE")
            .option("ignoreTrailingWhiteSpace", False)
            .option("ignoreLeadingWhiteSpace", False)
        )
        if self.schema:
            reader = reader.schema(self.schema)
        elif self.infer_schema:
            reader = reader.option("inferSchema", True)
        df = reader.csv(path)
        if not self.header and self.field_names:
            df = df.toDF(*self.field_names)
        return df


class TextLinesSource(Source):
    """One trimmed, non-empty line per record (LineExtractor parity)."""

    def __init__(self, path: str, column: str = "value", **kw):
        super().__init__(**kw)
        self.path = path
        self.column = column

    def load(self, spark: SparkSession) -> DataFrame:
        df = spark.read.text(self.path)
        trimmed = F.trim(F.regexp_replace(F.col("value"), "^﻿", ""))
        return (
            df.select(trimmed.alias(self.column))
            .filter(F.col(self.column) != "")
        )


class JsonSource(Source):
    def __init__(self, path: str, schema: str | None = None, multi_line: bool = False, **kw):
        super().__init__(**kw)
        self.path = path
        self.schema = schema
        self.multi_line = multi_line

    def load(self, spark: SparkSession) -> DataFrame:
        reader = spark.read.option("multiLine", self.multi_line)
        if self.schema:
            reader = reader.schema(self.schema)
        return reader.json(self.path)

"""CSV scan variants (SURVEY.md §2.1 S3-S6, §1.4).

The reference reads CSVs through chunked pandas iterators with four
variants — ragged, explicit schema, header-at-index, each ± skiprows
(reference csvplayback.py:556-673). Here each variant is a batch
DataFrame builder; the streaming playback layer wraps the same
builders (chunking is Structured Streaming's job, not the reader's).

Scale notes:

- Plain reads go through ``spark.read.csv`` — distributed splits,
  codec handling (.gz/.bz2 native), pushdown-friendly.
- ``skip_rows`` / ``header at index k`` has no native Spark CSV
  option; those paths use :mod:`lineio` — a text scan ordered by
  ``(_metadata.file_block_start, monotonically_increasing_id)`` with
  the first K physical lines filtered out and ``from_csv`` doing the
  parse. Everything stays in the JVM / whole-stage codegen; no Python
  RDD lambdas anywhere (plans show no ExistingRDD/PythonRDD node).
- Schemas are always pinned at parse time (caller-supplied, or
  inferred once driver-side from a head sample) — a single pass,
  never ``inferSchema=True`` stacked under casts.
- Header/metadata lines are fetched with a first-split CollectLimit
  K-line read (full-file TakeOrdered only as the short-split
  fallback) — driver-side K lines that read one split, not the file.

Embedded newlines inside quoted fields are not supported in the
skip-rows paths (line-oriented); the reference's pandas reader had the
same practical shape for sensor CSVs. ``read_pick_from_file(...,
multi_line=True)`` is the tested escape hatch on the native path
(pandas-parity, non-splittable — see its docstring); combining it
with the line-oriented paths raises.
"""

from __future__ import annotations

import csv
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fledge_south_csvplayback_spark.schema import (
    ColumnSpec,
    parse_use_columns,
    qname,
)
from fledge_south_csvplayback_spark.sources import lineio

# reference csvplayback.py:510 matches '.csv'-rooted suffixes only
CSV_EXTENSIONS = (".csv", ".csv.bz2", ".csv.gz")


def check_not_empty(path: str) -> None:
    """Zero-length-file guard (S6, csvplayback.py:566-568)."""
    if os.path.isfile(path) and os.path.getsize(path) == 0:
        raise EOFError(f"CSV file {path} has zero length")


# ---------------------------------------------------------------------------
# S1/S2: file discovery (batch equivalent of the FileFinder thread,
# csvplayback.py:477-517 — substring match on basename + csv extension,
# alphabetical order, pick-first)
# ---------------------------------------------------------------------------
def find_csv_files(csv_dir: str, pattern: str = "") -> list[str]:
    if not os.path.exists(csv_dir):
        raise FileNotFoundError(csv_dir)
    names = sorted(os.listdir(csv_dir))
    return [
        os.path.join(csv_dir, n)
        for n in names
        if pattern in n and n.endswith(CSV_EXTENSIONS)
    ]


def find_csv_file(csv_dir: str, pattern: str = "") -> str | None:
    files = find_csv_files(csv_dir, pattern)
    return files[0] if files else None


def _first_data_file(path: str) -> str:
    """Alphabetically-first data file of a directory read.

    This is the ONE file the no-schema directory read derives its
    header names and inference sample from (S1's pick-first order,
    csvplayback.py:477-517 — deterministic, unlike Spark's
    size-descending split packing, which made "first file" mean
    "largest file"). Files Spark's FileIndex hides (``_``/``.``
    prefixes) are skipped so the probe never reads a file the
    distributed scan won't, and so are ZERO-BYTE members — the
    directory contract everywhere (native reader, per-file line
    machinery) is that empty members contribute nothing, so they must
    not become the header source either (round 15)."""
    names = sorted(
        n
        for n in os.listdir(path)
        if not n.startswith(("_", "."))
        and os.path.isfile(os.path.join(path, n))
        and os.path.getsize(os.path.join(path, n)) > 0
    )
    if not names:
        raise FileNotFoundError(f"no data files in directory {path}")
    return os.path.join(path, names[0])


# ---------------------------------------------------------------------------
# raw line access (delegates to lineio; kept as the module's public API)
# ---------------------------------------------------------------------------
def head_lines(spark: SparkSession, path: str, n: int) -> list[str]:
    """First n physical lines (driver-side; first-split CollectLimit,
    see ``lineio.head_lines`` for the fallback contract)."""
    return lineio.head_lines(spark, path, n)


def _split_header(line: str) -> list[str]:
    """Parse one header line with the csv module (quote-aware).

    Empty header cells (e.g. a trailing comma on the header line) get
    pandas' ``Unnamed: <i>`` names, and duplicate names get pandas'
    ``.k`` mangling (``_mangle_dupes``), so every path that derives
    names from the header line agrees with the reference's read.
    Without the mangle a duplicated header name was a crash class: the
    derived DDL raised COLUMN_ALREADY_EXISTS where pandas reads the
    file fine.

    pandas resolves generated-vs-literal collisions in FAVOR OF THE
    LITERAL (round-12 verdict finding: header ``,Unnamed: 0`` yields
    ``['Unnamed: 0.1', 'Unnamed: 0']`` — the generated name loses):
    literal names mangle against each other first, in positional
    order, and only then does each empty cell take ``Unnamed: <i>``,
    bumped ``.k`` until free of ALL names — literal, mangled, and
    previously generated alike. Pinned empirically against pandas 2.2
    on 17 collision headers (tests/test_hostile_csv.py)."""
    names = next(csv.reader([line]))
    literals = iter(_mangle_dupes([n for n in names if n != ""]))
    out: list[str | None] = [next(literals) if n != "" else None for n in names]
    taken = {n for n in out if n is not None}
    for i, n in enumerate(names):
        if n != "":
            continue
        cand = f"Unnamed: {i}"
        k = 0
        while cand in taken:
            k += 1
            cand = f"Unnamed: {i}.{k}"
        out[i] = cand
        taken.add(cand)
    return out


def _mangle_dupes(names: list[str]) -> list[str]:
    """pandas' duplicate-header mangling (io.common dedup_names, which
    every reference read inherits): the k-th repeat of ``name`` becomes
    ``name.k``, skipping over any name already present ANYWHERE in the
    header or generated earlier — pinned empirically against pandas
    2.2 in tests (``a,a,a.1`` → ``a, a.2, a.1``; ``a,a.1,a.1,a`` →
    ``a, a.1, a.1.1, a.2``)."""
    taken = set(names)
    counts: dict[str, int] = {}
    out: list[str] = []
    for n in names:
        k = counts.get(n, 0)
        if k == 0:
            out.append(n)
            counts[n] = 1
            continue
        cand = f"{n}.{k}"
        while cand in taken:
            k += 1
            cand = f"{n}.{k}"
        out.append(cand)
        taken.add(cand)
        counts[n] = k + 1
    return out


# pandas' default NA sentinels (read_csv keep_default_na, the pandas
# 2.2 STR_NA_VALUES set) — the reference inherits these on EVERY read,
# including dtype=str columns, where they still become NaN. The empty
# string is also in pandas' set but is omitted here because the CSV
# parsers (native reader and from_csv alike) already yield NULL for an
# empty unquoted field; only the non-empty sentinels need a rewrite.
PANDAS_NA_SENTINELS = (
    "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None",
    "n/a", "nan", "null",
)
_MISSING_CELLS = frozenset(PANDAS_NA_SENTINELS) | {""}
# the sentinels as a SQL IN-list; a quote inside a literal is doubled
_SENTINELS_SQL = ", ".join("'" + v.replace("'", "''") + "'" for v in PANDAS_NA_SENTINELS)


def null_na_sentinels(df: DataFrame) -> DataFrame:
    """NaN-ify pandas' NA sentinels in string columns (numeric columns
    mostly NULL them already: an unparseable cell is NULL under
    PERMISSIVE parsing), and NULL NaN VALUES in float/double columns —
    the JVM parses the sentinel spellings ``NaN``/``-NaN`` to a real
    NaN where every other sentinel (``NA``, ``nan``, ``null``...)
    fails the parse to NULL, so without the rewrite one spelling of
    missingness was a value and the rest were NULLs (round-14 dtype
    net). pandas cannot produce a non-missing NaN from read_csv at
    all, and ``read_explicit``'s float accept-set already NULLs NaN
    spellings — this makes every pandas-faithful read agree. One
    codegen'd select, no shuffle, no Python.

    Built as SQL text, one ``selectExpr`` for the whole schema: every
    PySpark Column/``functions`` call pays a per-call origin capture
    (several JVM round trips), and the playback reader applies this
    once per stream definition. ``qname`` quotes each name exactly
    (mangled names like ``a.1`` must not parse as struct paths).

    Public on purpose: this is the cross-module semantic contract the
    streaming playback reader (streaming/playback.py) shares with the
    batch readers — every pandas-faithful read applies it."""
    exprs = []
    for f in df.schema.fields:
        q = qname(f.name)
        if isinstance(f.dataType, T.StringType):
            exprs.append(f"CASE WHEN {q} IN ({_SENTINELS_SQL}) THEN NULL ELSE {q} END AS {q}")
        elif isinstance(f.dataType, _FLOATING_TYPES):
            exprs.append(f"CASE WHEN isnan({q}) THEN NULL ELSE {q} END AS {q}")
        else:
            exprs.append(q)
    return df.selectExpr(*exprs)


_INFER_ORDER: tuple[tuple[str, type], ...] = (("bigint", int), ("double", float))
# driver-side inference sample: data lines examined from the head read.
# 128 lines is still one tiny driver-side read (the head scan touches
# only the file's first split) while covering 8x the type-widening
# window of the original 16 — the sample-based contract below is
# unchanged, just harder to fall afoul of.
INFER_SAMPLE_LINES = 128

# driver-side head reads over-fetch by this much to ride out blank
# lines in the header region; the fetch widens geometrically (×8) when
# a pathological blank preamble eats the whole window, so a valid
# header is always found no matter how deep it sits (round-12 review:
# a fixed window failed spuriously past 64 blanks)
HEAD_BLANK_SLACK = 64

# hard bound on the widening (round-14 verdict item 5): each widening
# re-reads the head from scratch, so an unbounded loop on a blank-
# padded multi-GB file walks the whole file through the driver (the
# geometric ×8 keeps the TOTAL read within ~8/7 of the final one, but
# the final one must still be bounded). A header more than ~1M blank
# lines deep fails LOUDLY with guidance instead — the documented edge
# of the driver-probe envelope (pandas would grind through it; a
# pinned schema= reads such files natively with no probe at all).
HEAD_MAX_LINES = 1 << 20


def _is_blank(line: str) -> bool:
    """pandas C-ENGINE blank test: only spaces and tabs are blank —
    \\x0b, \\f, \\xa0 and unicode spaces are DATA to the C parser
    (round-14 probe vs pandas 2.2; the python engine's wider unicode
    rule applies only to the ragged read, see lineio._BLANK_RE). A
    bare ``str.strip()`` here over-classified both control and
    unicode whitespace as blank."""
    return line.strip(" \t") == ""


def _head_with_blanks(
    spark: SparkSession, path: str, want: int, need_nonblank: int
) -> list[str]:
    """First ``want + slack`` physical lines, widening until at least
    ``need_nonblank`` non-blank lines are in hand or the file is
    exhausted. Returns the PHYSICAL lines (callers that need offsets
    index them themselves)."""
    slack = HEAD_BLANK_SLACK
    while True:
        n = min(want + slack, HEAD_MAX_LINES)
        head = lineio.head_lines(spark, path, n)
        nonblank = sum(1 for l in head if not _is_blank(l))
        if nonblank >= need_nonblank or len(head) < n:
            return head
        if n >= HEAD_MAX_LINES:
            raise ValueError(
                f"fewer than {need_nonblank} non-blank lines in the "
                f"first {HEAD_MAX_LINES} lines of {path}: the header "
                "probe gives up past ~1M blank preamble lines — pass "
                "an explicit schema= (no probe needed) or clean the "
                "preamble"
            )
        slack *= 8


def _infer_ddl(names: list[str], sample_rows: list[list[str]]) -> str:
    """Driver-side type inference over the head sample (int → float →
    string, widened per column across the sampled rows).

    Mirrors the practical outcome of the reference's per-chunk pandas
    inference for sensor CSVs without a second distributed pass. The
    contract is SAMPLE-based: a column whose later rows widen beyond
    the sampled type (e.g. ints for 16 rows, then '2.5') parses those
    rows to NULL — the same silent-cast semantics as the non-fast
    line-oriented path — so feeds with untrusted-width columns should
    pass an explicit ``schema=`` (or ``infer_schema=False`` for
    all-string). The reference has the same wobble per 4000-row chunk
    (csvplayback.py:679-691: dtype flips between chunks).

    Missing cells — empty strings and pandas' NA sentinels alike — are
    MISSING evidence, exactly as pandas treats them: they never flip a
    numeric column to string, but they DO widen an integer column to
    double (pandas has no NaN-capable int64, so any missing cell makes
    the column float64). A column that is ALL-missing in the sample
    stays STRING — a pinned divergence from pandas, whose all-NaN
    columns are float64: with zero type evidence in the sample, string
    is the only choice under which values past the sample ALWAYS
    survive (double would silently NULL any later non-numeric cell —
    data loss inside the documented sample envelope), and it diverges
    from pandas only when the column is truly all-NaN to the end of
    the file, where both engines hold nothing but NULLs anyway
    (round-13 advice item; dtype-only divergence, never value).
    """
    if not sample_rows:
        # no data rows to infer from: all-string (pandas' empty frame
        # is all-object too) — this is also the infer_schema=False
        # caller's raw-mode contract
        return ", ".join(f"{qname(n)} string" for n in names)
    ranks = {"bigint": 0, "double": 1, "string": 2}

    def cell_type(v: str) -> str:
        # Python's int()/float() are LAXER than the JVM parse the data
        # pass runs: underscore literals (1_0) and non-'Infinity'
        # infinity spellings (inf) would infer numeric here and then
        # parse to NULL distributed-side — silent data loss. pandas
        # calls 1_0 a string too; inf stays string so the VALUE
        # survives (pinned divergence: pandas reads inf as float64,
        # and ints past int64 as uint64/object where this engine keeps
        # the string).
        s = v.strip()
        if s != v:
            # whitespace-padded cell: the JVM parse keeps the padding
            # (ignoreLeading/TrailingWhiteSpace default false) and a
            # padded numeric parses to NULL — string keeps the value
            # (pandas trims to a number; pinned divergence)
            return "string"
        if not s.isascii():
            # Python's int()/float() accept UNICODE digits ('١٢٣',
            # '１２３') and exotic spaces that the JVM's ASCII-byte
            # parsers reject — numeric inference would NULL the values
            # distributed-side (round-13 escape hunt; pandas keeps
            # them object/string too)
            return "string"
        if "_" in s:
            return "string"
        core = s.lstrip("+-")
        if core.lower() in ("inf", "infinity") and core != "Infinity":
            return "string"
        for ddl, py in _INFER_ORDER:
            try:
                n = py(s)
            except (TypeError, ValueError):
                continue
            if ddl == "bigint" and not -(2**63) <= n < 2**63:
                return "string"  # JVM bigint overflow → NULL otherwise
            return ddl
        return "string"

    types = ["bigint"] * len(names)
    seen = [False] * len(names)
    missing = [False] * len(names)
    for row in sample_rows:
        for i in range(len(row), len(names)):
            missing[i] = True  # short row: pandas pads with NaN
        for i, v in enumerate(row[: len(names)]):
            if v in _MISSING_CELLS:
                missing[i] = True
                continue
            seen[i] = True
            t = cell_type(v)
            if ranks[t] > ranks[types[i]]:
                types[i] = t
    types = [
        ("double" if t == "bigint" and m else t) if s else "string"
        for t, s, m in zip(types, seen, missing)
    ]
    return ", ".join(f"{qname(n)} {t}" for n, t in zip(names, types))


def _schema_ddl(schema: T.StructType | str, names: list[str] | None = None) -> str:
    """Normalize a StructType/DDL schema to DDL, optionally renaming."""
    if isinstance(schema, T.StructType):
        st = schema
    else:
        st = T.StructType.fromDDL(schema)
    if names is not None:
        if len(names) != len(st.fields):
            raise ValueError(
                f"schema has {len(st.fields)} fields but header has "
                f"{len(names)} columns"
            )
        st = T.StructType(
            [T.StructField(n, f.dataType, f.nullable) for n, f in zip(names, st.fields)]
        )
    # qname: header-derived names can contain backticks; a bare
    # f"`{name}`" wrap yields malformed DDL (PARSE_SYNTAX_ERROR) where
    # pandas reads the file fine (round-13 advice item)
    return ", ".join(f"{qname(f.name)} {f.dataType.simpleString()}" for f in st.fields)


# ---------------------------------------------------------------------------
# S3 variant 1: pick_from_file — header names from row index H after
# skipping S rows (csvplayback.py:651-659; pandas header=H, skiprows=S:
# drop S lines, line S+H is the header, data starts at S+H+1)
# ---------------------------------------------------------------------------
def _dir_line_cuts(
    spark: SparkSession,
    path: str,
    skip_rows: int,
    header_row: int,
    n_sample: int,
) -> tuple[DataFrame, dict[str, int], str, list[str]]:
    """Per-FILE skip/header discovery for DIRECTORY line-oriented reads
    (round-15 hunt finding: the single-file ``skip_lines`` applied a
    GLOBAL skip over the directory-wide text read, whose cross-file
    order is Spark's split-packing order — other files' preamble and
    header lines leaked in as data rows, silently). Semantics are the
    reference's one-file-at-a-time playback / pandas per-file
    read+concat: each file independently drops ``skip_rows`` physical
    lines, indexes the ``header_row``-th NON-blank remaining line as
    its header, and contributes only the lines after it.

    Returns ``(lines, cut_mids, first_header_line, sample_lines)``:
    the tagged line frame, the per-file position of each file's header
    line (feed to ``lineio.skip_lines_by_file``), the header LINE of
    the alphabetically-first data file (names come from the pick-first
    file — the same directory contract as the native no-schema read;
    later files' header lines are consumed positionally, never
    name-matched), and the first file's inference sample lines
    (non-blank, post-header, ≤ ``n_sample``).

    Cost shape: one tiny per-file aggregate + ONE bounded head-collect
    job (re-run widened for blank-padded files, ``HEAD_MAX_LINES``
    bound), then a broadcast-literal-map filter over the data — no
    data shuffle, no whole-file window. Raises per file: a file with
    no header at the index fails loudly (pandas raises on that file
    too), naming the file.
    """
    lines = lineio.read_lines_by_file(spark, path)
    extents = lineio.file_extents(lines)
    if not extents:
        raise ValueError(f"no data lines in directory {path}")
    first_file = extents[0][0]
    base_want = skip_rows + header_row + 1
    want = {
        f: min(
            base_want
            + HEAD_BLANK_SLACK
            + (n_sample if f == first_file else 0),
            HEAD_MAX_LINES,
        )
        for f, _m0, _n0, _mb in extents
    }
    heads: dict[str, list[str]] = {}
    need = dict(want)
    while need:
        got = lineio.heads_by_file(lines, extents, need)
        still: dict[str, int] = {}
        for f, head in got.items():
            nb = sum(1 for ln in head[skip_rows:] if not _is_blank(ln))
            if nb > header_row or len(head) < need[f]:
                heads[f] = head  # enough non-blank lines, or EOF
            elif need[f] >= HEAD_MAX_LINES:
                raise ValueError(
                    f"no header at row {header_row} within the first "
                    f"{HEAD_MAX_LINES} lines of {f} (directory read of "
                    f"{path}) — pass an explicit schema= or clean the "
                    "preamble"
                )
            else:
                still[f] = min(need[f] * 8, HEAD_MAX_LINES)
        need = still
    cuts: dict[str, int] = {}
    first_header = ""
    sample_lines: list[str] = []
    for f, m0, n0, mb in extents:
        head = heads[f]
        nonblank = [
            (j, ln) for j, ln in enumerate(head[skip_rows:]) if not _is_blank(ln)
        ]
        if len(nonblank) <= header_row:
            raise ValueError(
                f"no header at row {header_row} after skipping "
                f"{skip_rows} lines of {f} (directory read of {path})"
            )
        h_off, header_line = nonblank[header_row]
        cut_lines = skip_rows + h_off + 1  # physical lines consumed
        if cut_lines > n0 and mb > 0:
            # the header lies beyond the file's first split (one
            # physical line larger than a split) — the per-file cut is
            # positional within the first split, so fail loudly
            raise ValueError(
                f"header of {f} lies beyond its first split — read the "
                "file individually or pass schema= on the native path"
            )
        cuts[f] = m0 + cut_lines - 1  # _mid of the header line
        if f == first_file:
            first_header = header_line
            sample_lines = [ln for _, ln in nonblank[header_row + 1 :]][
                :n_sample
            ]
    return lines, cuts, first_header, sample_lines


def read_pick_from_file(
    spark: SparkSession,
    path: str,
    header_row: int = 0,
    skip_rows: int = 0,
    schema: T.StructType | str | None = None,
    infer_schema: bool = True,
    multi_line: bool = False,
) -> DataFrame:
    """``multi_line=True`` is the embedded-newline escape hatch (module
    docstring caveat, round-13 verdict item 7): Spark's native
    multiLine CSV mode parses quoted fields ACROSS physical lines,
    matching pandas (which always does — verified in the hostile
    sweep). Native path only: the skip-rows / header-at-index paths
    are line-oriented by construction, so combining them with
    multi_line raises rather than silently splitting fields. Cost of
    the mode at scale: multiLine files are not splittable (a record
    boundary is no longer a line boundary), so each FILE becomes one
    task — fine for many-file sensor directories, wrong for one huge
    CSV; the default stays the splittable line-oriented read. With
    driver-side inference the head SAMPLE is still line-based (a
    quoted newline in the sample can only widen a column's inferred
    type toward string, never lose values).

    multiLine blank-line PIN (round-14 hunt): the native multiLine
    reader keeps interior WHITESPACE-only lines as data rows (empty
    lines it skips) where pandas drops both. Unfixable post-parse: a
    raw ``  `` line and a legitimate quoted-whitespace field ``"  "``
    (with missing trailing fields) parse to the SAME row image, and
    pandas keeps the quoted one — any filter dropping one corrupts
    the other. Feeds mixing embedded newlines WITH whitespace-only
    lines must clean one of the two first; pinned in the hostile
    sweep."""
    check_not_empty(path)
    if multi_line and (header_row or skip_rows):
        raise ValueError(
            "multi_line is only supported on the native path "
            "(header_row=0, skip_rows=0): the skip-rows/header-at-index "
            "paths are line-oriented and would split quoted fields"
        )
    if header_row == 0 and skip_rows == 0:
        # fast path: fully native reader, splittable, pushdown-friendly;
        # RFC4180 doubled-quote escaping (pandas-written CSVs). The
        # schema is pinned: caller-supplied, inferred once driver-side
        # from a first-split head sample, or (infer_schema=False) the
        # native reader's all-string default — never inferSchema=True,
        # whose inference is a full second distributed pass.
        reader = spark.read.option("header", True).option("escape", '"')
        if multi_line:
            reader = reader.option("multiLine", True)
        if schema is not None:
            # with a pinned schema the native reader skips blank-ish
            # (empty AND whitespace-only) preamble lines and consumes
            # the first non-blank line as the header — pandas-correct
            # as-is, no driver probe needed (round-14 probe matrix)
            return null_na_sentinels(reader.schema(schema).csv(path))
        # WITHOUT a schema the native reader's header pick is
        # inconsistent on a blank-ish first physical line: space-only
        # preambles are skipped but tab-containing ones become the
        # header (round-13 verdict finding — silent data loss: the
        # derived 1-column DDL truncated every row). pandas skips any
        # blank-ish preamble. So both no-schema modes probe the first
        # line driver-side (a first-split CollectLimit, the same
        # header-scale cost read_explicit always pays) and route
        # preamble files through the line-oriented machinery below.
        # Only the HEADER position demands a non-blank guarantee; the
        # inference sample stays best-effort (its size is already a
        # documented sample-based contract) — demanding the full
        # sample non-blank would walk a blank-padded file to its end
        # through the driver (round-12 review).
        n_head = (1 + INFER_SAMPLE_LINES) if infer_schema else 1
        if os.path.isdir(path):
            # DIRECTORY no-schema reads derive names AND dtypes from
            # ONE file — the alphabetically-first data file (S1
            # pick-first) — and pin the resulting schema on the
            # native reader, which then skips each file's preamble
            # and header correctly per file (round-14 probe matrix).
            # Probing the directory-wide text head crossed file
            # boundaries whenever the first SPLIT was smaller than
            # the sample, letting other files' HEADER lines into the
            # inference sample as data rows and silently widening
            # every column to string (round-14 verdict finding); and
            # the unpinned native reader took NAMES from whichever
            # file was the largest split and mis-picked headers on
            # blank-ish preambles in ANY file, not just the first
            # (round-14 advice item). The inference sample is the
            # first file's head only — the documented sample-based
            # contract, now per pick-first file.
            probe = _first_data_file(path)
            check_not_empty(probe)
            head_raw = _head_with_blanks(spark, probe, n_head, 1)
            if all(_is_blank(l) for l in head_raw):
                raise ValueError(
                    f"no non-blank lines in first file {probe} of {path}"
                )
            if multi_line and _is_blank(head_raw[0]):
                raise ValueError(
                    f"multi_line cannot read directory {path}: its "
                    f"first file {probe} has a blank first physical "
                    "line and the native multiLine reader's header "
                    "pick is unreliable there — strip the preamble "
                    "or pass an explicit schema="
                )
            head = [l for l in head_raw if not _is_blank(l)]
            names = _split_header(head[0])
            # infer_schema=False keeps the raw-mode contract: names
            # from the first file's header (pandas mangle — no longer
            # the largest split's native dedup), every column string
            sample = list(csv.reader(head[1:])) if infer_schema else []
            return null_na_sentinels(
                reader.schema(_infer_ddl(names, sample)).csv(path)
            )
        head_raw = _head_with_blanks(spark, path, n_head, 1)
        if all(_is_blank(l) for l in head_raw):
            raise ValueError(f"no non-blank lines in {path}")
        if not _is_blank(head_raw[0]):
            if not infer_schema:
                # column NAMES keep Spark's native dedup (`a0`,`a1`)
                # here — the documented pin, like `_c<i>` for empty
                # header cells — but VALUES follow pandas: sentinels
                # → NULL
                return null_na_sentinels(reader.csv(path))
            # blank test, not truthiness: whitespace-only lines are
            # blank to pandas — in the header slot AND in the
            # inference sample, where a kept ws line polluted the
            # dtypes (round-13 verdict finding)
            head = [l for l in head_raw if not _is_blank(l)]
            names = _split_header(head[0])
            sample = list(csv.reader(head[1:]))
            return null_na_sentinels(
                reader.schema(_infer_ddl(names, sample)).csv(path)
            )
        if multi_line:
            raise ValueError(
                "multi_line cannot read a file whose first physical "
                "line is blank: the native multiLine reader's header "
                "pick is unreliable there and the line-oriented "
                "fallback would split quoted fields — strip the blank "
                "preamble or pass an explicit schema="
            )
        # blank-ish first physical line: fall through to the
        # line-oriented path, which indexes the header off the first
        # NON-blank line exactly like pandas (names take the pandas
        # mangle here rather than the native dedup — strictly better
        # than the data loss these files hit before round 14)

    # pandas semantics (which the reference inherits, csvplayback.py:
    # 651-659): skiprows counts PHYSICAL lines, but blank lines are then
    # invisible — header=H indexes the H-th NON-BLANK remaining line,
    # and blank data lines are no rows at all.
    if os.path.isdir(path):
        # DIRECTORY + skip/header is PER FILE (round-15 hunt finding —
        # the single-file global skip over a directory-wide read leaked
        # other files' preamble/header lines in as data, in split-
        # packing order): each file drops its own skip_rows physical
        # lines and its own header_row-th non-blank header; names and
        # the inference sample come from the alphabetically-first file
        # (the engine-wide directory contract — later files map
        # positionally, their header lines consumed, never name-matched)
        n_sample = (
            INFER_SAMPLE_LINES if (schema is None and infer_schema) else 0
        )
        lines, cuts, first_header, sample_lines = _dir_line_cuts(
            spark, path, skip_rows, header_row, n_sample
        )
        names = _split_header(first_header)
        if schema is not None:
            ddl = _schema_ddl(schema, names)
        else:
            sample = list(csv.reader(sample_lines))
            ddl = _infer_ddl(names, sample if infer_schema else [])
        data = lineio.drop_blank_lines(lineio.skip_lines_by_file(lines, cuts))
        return null_na_sentinels(lineio.parse_csv_lines(data, ddl))
    n_sample = INFER_SAMPLE_LINES if (schema is None and infer_schema) else 1
    # non-blank guarantee covers the header position only; the sample
    # stays best-effort (see the fast path's note)
    head = _head_with_blanks(
        spark,
        path,
        skip_rows + header_row + 1 + n_sample,
        skip_rows + header_row + 1,
    )
    # C-engine blank test: space/tab-only lines are blank to pandas
    # (lineio drop_blank_lines docstring; round-13 probe + round-14
    # character-set pin)
    nonblank = [
        (j, ln) for j, ln in enumerate(head[skip_rows:]) if not _is_blank(ln)
    ]
    if len(nonblank) <= header_row:
        raise ValueError(
            f"no header at row {header_row} after skipping {skip_rows} "
            f"lines of {path}"
        )
    h_off, header_line = nonblank[header_row]
    names = _split_header(header_line)
    if schema is not None:
        ddl = _schema_ddl(schema, names)
    else:
        sample_lines = [ln for _, ln in nonblank[header_row + 1 :]][:n_sample]
        sample = list(csv.reader(sample_lines))
        ddl = _infer_ddl(names, sample if infer_schema else [])
    data = lineio.drop_blank_lines(
        lineio.skip_lines(lineio.read_lines(spark, path), skip_rows + h_off + 1)
    )
    return null_na_sentinels(lineio.parse_csv_lines(data, ddl))


# integral Spark types whose pandas counterpart raises on NA sentinels
# ("Integer/Bool column has NA values") — shared by the strict guard
# and the accept-set router
_NA_RAISING_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.BooleanType,
)
_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FLOATING_TYPES = (T.FloatType, T.DoubleType)
_INF_SPELLINGS = r"^[+-]?(inf|infinity)$"  # applied to lower(); NOT trimmed
_INT64_MIN_D = float(-(2**63))  # exactly representable as double
_INT64_MAX_D = float(2**63)  # 2^63 itself is OUT of range


def _pandas_accept_cast(base, dtype: T.DataType):
    """``base`` (string) cast to ``dtype`` under pandas' per-dtype
    accept-set (read_explicit docstring): outside the set the result
    is NULL, which the caller's strict guard turns into a raise.
    Everything is codegen'd when/try_cast — no UDF, no shuffle."""
    low = F.lower(base)
    if isinstance(dtype, T.BooleanType):
        d = base.try_cast(T.DoubleType())
        # NULL d falls through every == branch to the trailing NULL;
        # so do NaN (sentinels never reach here) and 2.0/-1.0
        return (
            F.when(low == "true", F.lit(True))
            .when(low == "false", F.lit(False))
            .when(d == 1.0, F.lit(True))
            .when(d == 0.0, F.lit(False))
        )
    if isinstance(dtype, _INTEGRAL_TYPES):
        b = base.try_cast(T.LongType())
        d = base.try_cast(T.DoubleType())
        # integral double, in int64 range: pandas routes float-shaped
        # spellings through float64 then safe-casts, so the SAME double
        # roundtrip is exact parity (1.0000000000000001e18 -> 1e18 both
        # sides). % stays double: no overflow, NaN/Inf %1 = NaN != 0.
        intish = (
            (d % F.lit(1.0) == 0.0)
            & (d >= F.lit(_INT64_MIN_D))
            & (d < F.lit(_INT64_MAX_D))
        )
        iv = (
            F.when(b.isNotNull(), b)
            .when(intish, d.try_cast(T.LongType()))
            .when(low == "true", F.lit(1).cast(T.LongType()))
            .when(low == "false", F.lit(0).cast(T.LongType()))
        )
        return iv if isinstance(dtype, T.LongType) else iv.try_cast(dtype)
    if isinstance(dtype, _FLOATING_TYPES):
        d = base.try_cast(T.DoubleType())
        is_inf_spelled = low.rlike(_INF_SPELLINGS)
        dv = (
            F.when(
                is_inf_spelled,
                F.when(
                    base.startswith("-"), F.lit(float("-inf"))
                ).otherwise(F.lit(float("inf"))),
            )
            .when(low == "true", F.lit(1.0))
            .when(low == "false", F.lit(0.0))
            # a NaN here is a NON-sentinel spelling ('+NaN', Java
            # accepts) and an Inf here is an overflow ('1e999') — both
            # raise in pandas, both BAD here
            .when(F.isnan(d) | (F.abs(d) == F.lit(float("inf"))), F.lit(None))
            .otherwise(d)
        )
        return dv if isinstance(dtype, T.DoubleType) else dv.try_cast(dtype)
    # timestamp (reference's pandas path raises on every input — no
    # contract to match; engine-defined JDK parse) and any other type
    return base.try_cast(dtype)


# ---------------------------------------------------------------------------
# S3 variant 2: explicit — useColumns does rename+select+cast at once
# (csvplayback.py:601-649; pandas header=0 + names=: the first data line
# after the skip is a discarded header, spec names apply positionally)
# ---------------------------------------------------------------------------
def read_explicit(
    spark: SparkSession,
    path: str,
    use_columns: str | list[ColumnSpec],
    skip_rows: int = 0,
    strict: bool = False,
    multi_line: bool = False,
) -> DataFrame:
    """Rename+select+cast per the useColumns spec (csvplayback.py:601-649).

    Cast-failure semantics (round-11 verdict item 3): the reference's
    pandas ``dtype=`` read RAISES on a value that won't cast
    (csvplayback.py:641,648 — pandas ValueError, plugin shuts down).
    The default here is permissive — a bad value nulls out, and the A1
    null-report (operators/clean.py) surfaces it — because silently
    losing one sensor glitch beats killing a 100 TB job. ``strict=True``
    restores the reference's behavior: any PRESENT, non-empty value
    that fails its cast raises at action time (wrapped
    ``raise_error``), naming the column and offending value. Empty
    cells stay NULL under both modes (pandas' float64 read agrees;
    its int64 read also raises on empties — that last divergence is
    deliberate and documented here). pandas' NA sentinels
    (``PANDAS_NA_SENTINELS``) become NULL before the cast in both
    modes — matching the reference's read for float, string and
    no-dtype columns — except strict + integer/bool, where the raise
    is pandas-faithful ("Integer/Bool column has NA values").

    WHAT COUNTS AS A BAD VALUE is pandas' per-dtype accept-set, not
    Spark's (round-12 verdict finding: Spark's boolean cast accepts
    ``yes``/``no``/``t``/``on`` where pandas' dtype=bool read raises,
    so the strict guard never fired and permissive reads invented
    booleans the reference would have died on). The accept-sets below
    are pinned empirically against pandas 2.2 (tests/test_hostile_csv
    runs both engines per spelling) and apply to BOTH modes — outside
    the set a value nulls (permissive) or raises (strict):

    - bool: case-insensitive ``true``/``false`` (untrimmed — pandas'
      object path), plus any numeric spelling whose value is exactly
      0 or 1 (``1``, ``0.0``, ``+1``, `` 1`` — pandas' int64/float64
      column astype path, which trims). ``yes``/``t``/``on`` are BAD.
    - int: exact integer literals (``007``, ``+5``, padded), plus any
      float-shaped spelling whose float64 value is integral and in
      int64 range (``1.0``, ``2.5e1``, ``1e3`` — pandas routes these
      through float64, so the same double roundtrip here is exact
      parity), plus bool spellings (``True`` → 1). ``1.5``/``1_0``/
      ``0x1F``/``9.3e18`` are BAD.
    - float: everything Java's parse accepts except non-spelled
      infinities/NaNs, plus case-insensitive ``inf``/``infinity``
      spellings (pandas accepts, Java does not), plus bool spellings
      (``True`` → 1.0). An OVERFLOW spelling (``1e999``) and any
      non-sentinel NaN spelling (``NAN``, ``+NaN``) are BAD — pandas
      raises on both where Java happily yields ±Infinity/NaN.
    - timestamp: engine-defined try_cast (JDK format) in both modes —
      the reference's own timestamp useColumns type maps to pandas
      ``dtype='datetime64'``, which raises TypeError for EVERY input
      in pandas 2.x (verified live): there is no working reference
      behavior to match, so the knob keeps this engine's semantics.

    Pinned divergences from pandas (documented, tested): pandas
    adjudicates at COLUMN granularity — a column mixing ``True`` and
    ``1`` is object dtype and raises even though each value alone is
    fine; this engine accepts per value (a 100 TB scan should not die
    because two fine spellings met in one column). pandas reads
    ``9223372036854775808`` as uint64 rather than raising; here it is
    out of int64 range and BAD.
    """
    check_not_empty(path)
    specs = (
        parse_use_columns(use_columns) if isinstance(use_columns, str) else use_columns
    )
    is_dir = os.path.isdir(path)
    # the discarded header is the first NON-BLANK line after the
    # physical skip (pandas header=0 semantics; blank lines invisible).
    # For a DIRECTORY the probe reads the alphabetically-first data
    # file (the engine-wide pick-first contract, round 15 — a
    # directory-wide head crossed file boundaries in split-packing
    # order), and the width check validates the pick-first file.
    probe = _first_data_file(path) if is_dir else path
    check_not_empty(probe)
    head = _head_with_blanks(spark, probe, skip_rows + 1, skip_rows + 1)
    # C-engine blank test: space/tab-only lines are blank to pandas
    # (lineio drop_blank_lines docstring, round-13/14 probes)
    nonblank = [
        (j, ln) for j, ln in enumerate(head[skip_rows:]) if not _is_blank(ln)
    ]
    if not nonblank:
        raise ValueError(f"no header line after skipping {skip_rows} lines of {probe}")
    h_off, header_line = nonblank[0]
    n_cols = len(_split_header(header_line))
    if len(specs) != n_cols:
        raise ValueError(
            f"useColumns has {len(specs)} entries but file has {n_cols} columns"
        )
    raw_ddl = ", ".join(f"`_c{i}` string" for i in range(n_cols))

    if multi_line and not (skip_rows == 0 and h_off == 0):
        raise ValueError(
            "multi_line is only supported on the native path "
            "(skip_rows=0): the skip-rows path is line-oriented and "
            "would split quoted fields"
        )
    if skip_rows == 0 and h_off == 0:
        # native fast path: header=True discards line 0, pinned all-string
        # schema applies positionally — one pass, no inference. For a
        # DIRECTORY the pinned schema makes the native reader skip
        # blank-ish preambles and the first non-blank header PER FILE
        # (round-14 probe matrix) — positional mapping throughout.
        # multi_line: the embedded-newline escape hatch, same contract
        # as read_pick_from_file's (pandas-parity, non-splittable)
        reader = spark.read.option("header", True).option("escape", '"')
        if multi_line:
            reader = reader.option("multiLine", True)
        df = reader.schema(raw_ddl).csv(path)
    elif is_dir:
        # DIRECTORY + skip/header is PER FILE (round-15; see
        # read_pick_from_file) — each file drops its own skip_rows and
        # its own first non-blank header line
        lines, cuts, _hdr, _s = _dir_line_cuts(spark, path, skip_rows, 0, 0)
        data = lineio.drop_blank_lines(lineio.skip_lines_by_file(lines, cuts))
        df = lineio.parse_csv_lines(data, raw_ddl)
    else:
        data = lineio.drop_blank_lines(
            lineio.skip_lines(lineio.read_lines(spark, path), skip_rows + h_off + 1)
        )
        df = lineio.parse_csv_lines(data, raw_ddl)

    cols = []
    for i, spec in enumerate(specs):
        if spec.name == "":
            continue  # positional drop (usecols semantics)
        raw = F.col(f"_c{i}")
        # pandas applies its NA-sentinel list BEFORE the dtype= cast on
        # every read (even dtype=str columns get NaN), so sentinels are
        # NULL here under both modes — with ONE pandas-faithful
        # exception: strict + integer/bool dtypes raise, because those
        # pandas dtypes have no NaN ("Integer/Bool column has NA
        # values"). The
        # sentinel never casts, so the generic strict guard covers it.
        sentinel_raises = strict and isinstance(spec.dtype, _NA_RAISING_TYPES)
        base = (
            raw
            if sentinel_raises
            else F.when(raw.isin(*PANDAS_NA_SENTINELS), F.lit(None)).otherwise(raw)
        )
        c = base
        if spec.dtype is not None:
            # pandas' accept-set per dtype (docstring), via try_cast so
            # the semantics hold regardless of the session's
            # spark.sql.ansi.enabled (ANSI is Spark 4's default, under
            # which a bare cast would raise with a generic error)
            c = _pandas_accept_cast(base, spec.dtype)
            if strict:
                msg = F.concat(
                    F.lit(
                        f"strict cast failed: column '{spec.name}' "
                        f"({spec.dtype.simpleString()}) bad value '"
                    ),
                    base,
                    F.lit("'"),
                )
                c = F.when(
                    base.isNotNull() & (base != "") & c.isNull(),
                    F.raise_error(msg).cast(spec.dtype),
                ).otherwise(c)
        cols.append(c.alias(spec.name))
    return df.select(*cols)


# ---------------------------------------------------------------------------
# S3 variant 3: ragged / dynamic columns (csvplayback.py:587-597,703-711;
# docs/index.rst:52-67) — every row may have a different field count;
# non-empty position i becomes map key "<prefix>_<i+1>".
# ---------------------------------------------------------------------------

# The from_csv schema, the map-entry array, and the driver-side plan
# all scale with the WIDEST line, so an unbounded width is a DoS
# vector (a hostile million-comma line → a million-column plan, found
# by the round-12 review). 4096 is far past any sensor row; raise the
# knob deliberately if a legitimate feed is wider.
RAGGED_MAX_FIELDS = 4096


def read_ragged(
    spark: SparkSession,
    path: str,
    prefix: str = "column",
    skip_rows: int = 0,
    max_fields: int = RAGGED_MAX_FIELDS,
) -> DataFrame:
    """Returns (row_id long, readings map<string,string>).

    Values stay strings (the reference's pandas read gives per-column
    object dtypes for ragged input; a string map is the honest Spark
    shape). row_id preserves file order for downstream timestamping;
    it comes from the distributed partition-offset numbering in lineio
    (no global sort, no Python round-trip). Blank physical lines are
    dropped BEFORE numbering (pandas skip_blank_lines semantics, which
    the reference inherits).

    Quote semantics follow ``csv.reader`` — the parser the reference's
    pandas ``engine='python'`` read (csvplayback.py:587-597) is built
    on: each line parses through ``from_csv`` (the same JVM uniVocity
    parser the native reader uses, RFC4180 doubled-quote escaping),
    verified field-for-field against csv.reader in tests on quoted
    commas, doubled quotes, bare MID-field quotes (``6,5",7`` →
    ``['6', '5"', '7']``), and unterminated quotes (``a,"b`` →
    ``['a', 'b']``) — the classes the round-12 review showed a split
    regex gets wrong. Documented divergences (with the module's
    embedded-newline caveat), both malformed outside RFC4180, both
    pinned in tests:

    - TEXT AFTER A CLOSING QUOTE stays literal here (``"a"x,y`` →
      ``'"a"x'``) where csv.reader splices (``'ax'``); none of
      uniVocity's unescapedQuoteHandling modes reproduces the splice
      (all three verified).
    - A field that is a LONE UNTERMINATED QUOTE (``a,"`` — nothing
      after the opening quote) stays the literal ``'"'`` here where
      csv.reader yields the empty field (dropped from the map). Found
      by the round-13 400-line fuzz vs csv.reader; unfixable without
      corrupting the legitimate four-doubled-quotes field (which
      parses to the same ``'"'`` value from well-formed text). Every
      OTHER unterminated-quote shape (``a,"b``, ``",a``, ``a,"b,c`` —
      the open quote consuming commas to end of line) matches
      csv.reader exactly (verified).

    Cost note: ``from_csv`` needs a fixed-width schema, so the width
    bound — max comma-split size, an upper bound on the true field
    count since quoted commas only over-count — comes from ONE extra
    narrow pass over the file (text scan + codegen'd ``size(split)``
    + 1-row max aggregate, no shuffle). The reference plays one file
    at a time, so this is a per-file header-scale cost, not a
    corpus-scale one. Empty and absent trailing fields both surface
    as NULL from the parser and are equally dropped from the map —
    and so are pandas' NA sentinels (``NA``/``null``/``NaN``/...):
    the reference's read turns those into NaN, and its row→dict
    conversion drops every ``pd.isnull`` cell (csvplayback.py:703-711).
    """
    check_not_empty(path)
    if os.path.isdir(path):
        # DIRECTORY ragged reads are PER FILE (round-15 hunt finding —
        # the single-file skip/numbering over a directory-wide read is
        # split-packing-ordered, i.e. nondeterministic): each file
        # drops its own skip_rows physical lines and its own BOM;
        # row_id numbers globally in alphabetical file order (the
        # reference's playback order / pandas concat ignore_index)
        raw = lineio.read_lines_by_file(spark, path)
        extents = lineio.file_extents(raw)
        if not extents:
            raise ValueError(f"no data lines in directory {path}")
        if skip_rows > 0:
            for f, _m0, n0, mb in extents:
                if mb > 0 and n0 < skip_rows:
                    raise ValueError(
                        f"cannot skip {skip_rows} lines of {f}: its "
                        "first split holds fewer lines (one physical "
                        "line larger than a split) — read the file "
                        "individually"
                    )
            cuts = {
                f: m0 + min(skip_rows, n0) - 1
                for f, m0, n0, mb in extents
                if n0 > skip_rows or mb > 0
            }
            raw = lineio.skip_lines_by_file(raw, cuts)
            # each file's first (BOM-bearing) line is consumed by the skip
        else:
            raw = lineio.strip_bom_by_file(
                raw, {f: m0 for f, m0, _n0, _mb in extents}
            )
        lines = lineio.with_line_numbers_by_file(
            lineio.drop_blank_lines(raw, engine="python")
        )
    else:
        lines = lineio.with_line_numbers(
            # python-ENGINE blank semantics: the reference's ragged read
            # is pandas engine='python', whose _remove_empty_lines drops
            # a single-field line blank under str.strip() — ANY unicode
            # whitespace — where the C engine would keep \x0b/\xa0/
            # lines as data (round-14 probe; lineio._BLANK_RE)
            lineio.drop_blank_lines(
                lineio.skip_lines(lineio.read_lines(spark, path), skip_rows),
                engine="python",
            )
        )
    width_row = lines.select(
        F.max(F.size(F.split(F.col("value"), ",", -1))).alias("k")
    ).collect()[0]
    n_fields = max(1, width_row.k or 1)
    if n_fields > max_fields:
        raise ValueError(
            f"ragged line with {n_fields} comma-separated fields exceeds "
            f"max_fields={max_fields} — the parse plan scales with the "
            "widest line; raise max_fields only for a trusted wide feed"
        )
    ddl = ", ".join(f"`c{i}` string" for i in range(n_fields))
    parsed = lineio.parse_csv_lines(lines, ddl, keep=["row_id"])
    fields = F.array(*[F.col(f"c{i}") for i in range(n_fields)])
    entry = F.transform(
        fields,
        lambda v, i: F.struct(
            F.concat(F.lit(prefix + "_"), (i + 1).cast("string")).alias("key"),
            v.alias("value"),
        ),
    )
    kept = F.filter(
        entry,
        lambda s: s["value"].isNotNull()
        & (s["value"] != "")
        & ~s["value"].isin(*PANDAS_NA_SENTINELS),
    )
    return parsed.select("row_id", F.map_from_entries(kept).alias("readings"))


# ---------------------------------------------------------------------------
# S5: pass_in_datapoint — first n raw lines joined with "_"
# (csvplayback.py:661-671); merged into every reading by the envelope
# builder (operators/readings.py).
# ---------------------------------------------------------------------------
def read_metadata_datapoint(spark: SparkSession, path: str, n_rows: int) -> str:
    # a DIRECTORY's metadata head comes from the pick-first file (the
    # reference reads the CURRENT playback file's head; a directory-wide
    # head is split-packing-ordered — round-15 directory contract)
    if os.path.isdir(path):
        path = _first_data_file(path)
    return "_".join(head_lines(spark, path, n_rows))

"""Multimodal-column plumbing: opaque binary payloads + typed metadata.

A 100 TB training pipeline carries images/audio/video as opaque
``binary`` columns with a typed metadata struct, and runs decode /
feature-extract / frame-sample as Arrow-batched Python over
``mapInPandas``. Formats needing codec libraries (PNG/JPEG via PIL,
audio/video via ffmpeg) are not decodable in this container, so THAT
decode path fails loudly with ``NotImplementedError`` rather than
fake-succeeding. Three decode paths are REAL: ``text/plain`` payloads
pass through byte-exact, PPM P6 rasters go through a genuine
pure-Python parser (``image_stats``: header tokenizer with netpbm
comment handling, dimension/maxval/buffer validation, per-channel
pixel sums, 64-bit dHash), and RIFF/AVI video goes through a
chunk-walking parser (``video_stats``) — the binary column build,
the metadata
struct, the mapInPandas batch signature, the output schema, and the
per-partition batch iteration are the same plumbing a codec-backed
decoder would use, and the math is deterministic so the whole
pipeline is oracle-checked end-to-end against DuckDB.

Scale shape: mapInPandas streams Arrow batches per partition — no
driver collect, no per-row Python calls; partitioning of the input
carries through.

Corrupt-payload policy (round 12): the stats ENTRY POINTS
(``image_stats`` / ``video_stats``) accept ``on_error="quarantine"`` —
the CSV corrupt-record pattern for binary: a bad payload costs one
NULL-stats row with a ``decode_error`` audit column, never the job.
The composed/index-feeding ops (near-dup pairs, resize) DELIBERATELY
stay raise-only: they write blocking tables and derived payloads where
a silently nulled row corrupts downstream joins — the supported
pipeline shape is quarantine-stats first, filter the flagged doc_ids,
then index the clean corpus.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes int, head_byte int, byte_sum long"
)
def _media_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared documents scan behind every synthetic media table,
    routed through the guarded fan-out (round 16): the sf corpora are
    one parquet row group, so every decode op's mapInPandas ran its
    WHOLE pipeline on a single task at any core count — measured 1.2 s
    of multimodal_video_stats' 1.0-1.4 s wall on one task at sf0.1.
    At real scale (or for real media bytes from storage) the input
    splits provide the parallelism and the spread is a no-op."""
    from fledge_south_csvplayback_spark.operators import fanout

    path = f"{sf_dir}/documents.parquet"
    return fanout.spread(spark.read.parquet(path), spark, path)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, payload binary, meta struct).

    The payload is the UTF-8 encoding of the text — a deterministic
    stand-in for real media bytes; the metadata struct is the typed
    sidecar a real pipeline would carry (content type + declared size).
    """
    docs = _media_docs(spark, sf_dir)
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("media_type"),
            F.octet_length(payload).alias("declared_bytes"),
        ).alias("meta"),
    )


def _make_decode_stub():
    """STUB factory: real decoders (image/audio/video) are absent here.

    ``text/plain`` passes bytes through (deterministic fake decode);
    any real media type fails loudly rather than fake-succeeding.
    Built via a factory so the function's qualname is not a module
    attribute: cloudpickle then serializes it BY VALUE into the
    mapInPandas closures. Executor Python workers do not share the
    driver's sys.path, so anything pickled by module reference from
    this package would fail to import on the workers.
    """

    def _decode_stub(media_type: str, payload: bytes) -> bytes:
        if media_type == "text/plain":
            return payload
        raise NotImplementedError(
            f"decode for {media_type!r} requires codec libraries not present "
            "in this environment (PIL/ffmpeg); payload left opaque by design"
        )

    return _decode_stub


_decode_stub = _make_decode_stub()


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload."""
    decode = _decode_stub  # closure capture -> pickled by value

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = [
                decode(m["media_type"], p)
                for m, p in zip(pdf["meta"], pdf["payload"])
            ]
            # a NULL payload (NULL source text) decodes to NULL
            # features, not a crash: n_bytes/byte_sum NULL, head_byte
            # the same -1 sentinel an empty payload gets (matches the
            # oracle's len(NULL)/list_sum(NULL) propagation)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": [m["media_type"] for m in pdf["meta"]],
                    "n_bytes": [
                        len(b) if b is not None else None for b in decoded
                    ],
                    "head_byte": [
                        b[0] if b else -1 for b in decoded
                    ],
                    "byte_sum": [
                        int(sum(b)) if b is not None else None
                        for b in decoded
                    ],
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


# --- real raster decode: PPM (P6) + pixel stats + dHash ----------------------
# A pure-Python decodable raster needs no codec library: PPM P6 is a
# text header ("P6", width, height, maxval, '#' comments allowed per
# the netpbm spec) followed by a raw RGB byte buffer. The decoder below
# is a REAL generic parser — header tokenizer, dimension/maxval
# validation, buffer-length check — so the decode stage stops being a
# stub for this format; NotImplementedError remains only for formats
# whose codecs are genuinely absent (PNG/JPEG/audio/video).
IMG_W, IMG_H = 9, 8  # 9×8 grayscale grid = the classic dHash geometry
IMAGE_STATS_SCHEMA = (
    "doc_id long, width int, height int, maxval int, "
    "sum_r bigint, sum_g bigint, sum_b bigint, dhash string"
)


def _ppm_table(spark: SparkSession, sf_dir: str, w: int, h: int) -> DataFrame:
    """Shared synthetic-PPM builder: pixel byte ``i`` of doc ``d`` is
    ``(d*131 + i*17) % 256`` over a ``w`` x ``h`` RGB plane. The
    formula depends on doc_id only through doc_id*131 % 256, so the
    256 possible pixel planes build ONCE over a 256-row Range
    (declarative — createDataFrame would plant a Scan ExistingRDD in
    the registered plan, the hygiene pin forbids it) and a broadcast
    join assembles the payload — synthesis scaffolding costs ~0 and
    decode probes measure the DECODE (the per-row-per-byte transform
    formulation measurably dominated the wall; see video_table's
    post-mortem)."""
    from fledge_south_csvplayback_spark.operators.inline import (
        literal_cols_df,
    )

    docs = _media_docs(spark, sf_dir)
    n_px = w * h * 3
    # the 256 possible pixel-plane hex strings build in PYTHON on the
    # driver and ship as one JSON-literal inline table (round 15): the
    # previous Range-over-256 formulation evaluated w·h·3 interpreted
    # lambda elements per LUT row inside the broadcast build —
    # 256·n_px ≈ 0.2-1.0 s per invocation at these geometries — for
    # byte values a driver loop produces in milliseconds. Identical
    # bytes: (dd + (i·17) % 256) % 256 == (dd + i·17) % 256, and unhex
    # is case-insensitive. Plan stays Generate-over-Range (the
    # hygiene pin: no Scan ExistingRDD).
    px_rows = [
        "".join(f"{(dd + i * 17) % 256:02x}" for i in range(n_px))
        for dd in range(256)
    ]
    lut = literal_cols_df(
        spark,
        {"dd": list(range(256)), "pxhex": px_rows},
        "dd int, pxhex string",
    )
    header = F.encode(F.lit(f"P6\n{w} {h}\n255\n"), "UTF-8")
    payload = F.concat(header, F.unhex(F.col("pxhex")))
    return (
        docs.withColumn(
            "dd", F.pmod(F.col("doc_id") * 131, F.lit(256)).cast("int")
        )
        .join(F.broadcast(lut), "dd")
        .select(
            "doc_id",
            payload.alias("payload"),
            F.struct(
                F.lit("image/x-portable-pixmap").alias("media_type"),
                F.octet_length(payload).alias("declared_bytes"),
            ).alias("meta"),
        )
    )


def image_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, payload binary, meta struct) where the
    payload is a complete deterministic PPM P6 image (9×8 RGB); see
    ``_ppm_table`` for the formula and the broadcast-LUT synthesis
    shape. Only the DECODE is Python, which is the shape a real
    pipeline has (bytes arrive from storage, Python runs the codec)."""
    return _ppm_table(spark, sf_dir, IMG_W, IMG_H)


def _make_group_runs():
    """Factory (cloudpickle by-value; see ``_make_decode_stub``) for
    the grouping scan every vectorized decode op shares: given an
    (n, k) int key array, yields (key_tuple, index array) per run of
    identical rows — the per-geometry batching that lets numpy stack
    frames of one shape."""

    def group_runs(keys2d):
        import numpy as np

        order = np.lexsort(keys2d.T)
        pos, n = 0, len(order)
        while pos < n:
            g = keys2d[order[pos]]
            end = pos
            while end < n and (keys2d[order[end]] == g).all():
                end += 1
            yield tuple(int(x) for x in g), order[pos:end]
            pos = end

    return group_runs


def _make_ppm_decoder():
    """Factory (cloudpickle by-value; see ``_make_decode_stub``) for a
    generic PPM P6 parser: returns (width, height, maxval, rgb_bytes)
    or raises ValueError on malformed input. Handles '#' comments and
    arbitrary whitespace in the header per the netpbm spec; 8-bit
    (maxval <= 255) buffers only."""

    def decode_ppm(payload: bytes) -> tuple[int, int, int, bytes]:
        if payload[:2] != b"P6":
            raise ValueError(f"not a PPM P6 payload: magic {payload[:2]!r}")
        # header tokenizer: magic, width, height, maxval — '#' starts
        # a comment running to end-of-line; a single whitespace byte
        # terminates the maxval token and the raw buffer follows
        pos, toks = 2, []
        while len(toks) < 3 and pos < len(payload):
            ch = payload[pos : pos + 1]
            if ch == b"#":
                while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                    pos += 1
            elif ch.isspace():
                pos += 1
            else:
                start = pos
                while pos < len(payload) and not (
                    payload[pos : pos + 1].isspace()
                    or payload[pos : pos + 1] == b"#"
                ):
                    pos += 1
                toks.append(payload[start:pos])
        # the raster starts after ONE whitespace byte; a comment glued
        # to the maxval token ("255# note\n") ends at its newline,
        # which IS that whitespace (netpbm allows comments anywhere in
        # header whitespace)
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
        pos += 1
        if len(toks) < 3:
            raise ValueError("truncated PPM header")
        try:
            w, h, maxval = (int(t) for t in toks)
        except ValueError:
            raise ValueError(f"non-numeric PPM header token in {toks!r}")
        if w < 1 or h < 1 or not (0 < maxval <= 255):
            raise ValueError(f"bad PPM dimensions/maxval: {w}x{h}/{maxval}")
        buf = payload[pos : pos + w * h * 3]
        if len(buf) != w * h * 3:
            raise ValueError(
                f"PPM buffer holds {len(buf)} bytes, need {w * h * 3}"
            )
        return w, h, maxval, buf

    return decode_ppm


_decode_ppm = _make_ppm_decoder()


def _check_on_error(on_error: str) -> None:
    if on_error not in ("raise", "quarantine"):
        raise ValueError(
            f"on_error must be 'raise' or 'quarantine', got {on_error!r}"
        )


def _make_err_text():
    """Factory so the function pickles BY VALUE into mapInPandas
    closures (same rule as the decoders): a module-level def would be
    cloudpickled by reference, and executor Python workers only share
    the driver's sys.path when the driver happens to run with the repo
    as its cwd."""

    def _err_text(payload, ex: Exception) -> str:
        if payload is None:
            return "NULL payload"
        return str(ex) or type(ex).__name__

    return _err_text


_err_text = _make_err_text()


def image_stats(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """Decode every PPM payload and emit per-channel pixel sums plus
    the 64-bit dHash: gray[r][c] = (R+G+B)//3, bit (r, c) set when
    gray[r][c] < gray[r][c+1] — each row's 8 comparisons pack into one
    byte, hex-encoded row-major (16 lowercase chars for 9×8; H·(W-1)
    bits generally). The difference hash is the standard byte-cheap
    near-dup signature for images — two images differing by
    brightness/scale shifts keep their gradient signs, so their
    dHashes collide; a Hamming-distance band join over this column is
    the image-side analogue of the SimHash text path.

    One mapInPandas pass, no shuffle; channel sums are exact integers
    (no float tolerance in the oracle compare). After the header
    parse, rows of the standard one-byte-per-row geometry (W = 9)
    stack into ONE numpy matrix per batch — channel sums, gray plane,
    gradient comparisons, and ``packbits`` all run vectorized (the
    pure-Python pixel loops were the measured bottleneck: ~34 µs/doc
    at the 200k probe); other geometries take the scalar fallback.
    Python-side byte equality of both paths is pinned in tests.

    ``on_error`` (round-12): ``"raise"`` — the default and every
    oracle-checked entry's semantics — fails the job loudly on the
    first malformed payload; ``"quarantine"`` is the CSV
    corrupt-record pattern extended to binary payloads: a payload that
    fails to decode yields ONE row with NULL stats and the error text
    in ``decode_error`` (NULL on clean rows), so one corrupt blob in a
    100 TB scan costs one quarantined row, not the job."""
    _check_on_error(on_error)
    decode = _decode_ppm  # closure capture -> pickled by value
    group_runs = _make_group_runs()
    err_text = _err_text
    schema = IMAGE_STATS_SCHEMA + (
        ", decode_error string" if on_error == "quarantine" else ""
    )

    def scalar_row(w, h, buf):
        gray = [
            (buf[3 * k] + buf[3 * k + 1] + buf[3 * k + 2]) // 3
            for k in range(w * h)
        ]
        hash_hex = []
        for r in range(h):
            byte = 0
            for c in range(w - 1):
                if gray[r * w + c] < gray[r * w + c + 1]:
                    byte |= 1 << (w - 2 - c)
            hash_hex.append(f"{byte:0{-(-(w - 1) // 4)}x}")
        return (
            sum(buf[0::3]),
            sum(buf[1::3]),
            sum(buf[2::3]),
            "".join(hash_hex),
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            n = len(pdf)
            if not n:
                continue
            doc_ids = pdf["doc_id"].to_numpy()
            widths = np.empty(n, dtype=np.int32)
            heights = np.empty(n, dtype=np.int32)
            maxvals = np.empty(n, dtype=np.int32)
            sums = np.empty((n, 3), dtype=np.int64)
            dhashes: list[str | None] = [None] * n
            bufs: list[bytes] = [b""] * n
            errors: list[str | None] = [None] * n
            for i, payload in enumerate(pdf["payload"]):
                try:
                    w, h, maxval, buf = decode(payload)
                except (ValueError, TypeError) as ex:
                    if on_error == "raise":
                        raise
                    errors[i] = err_text(payload, ex)
                    widths[i] = heights[i] = maxvals[i] = 0
                    continue
                widths[i], heights[i], maxvals[i] = w, h, maxval
                bufs[i] = buf
            ok = np.array([e is None for e in errors])
            # vectorized fast path per (w, h) group with w == 9 (one
            # dHash byte per row); scalar fallback otherwise
            keys = np.stack([widths, heights], axis=1).astype(np.int64)
            for (w, h), idx in group_runs(keys):
                idx = idx[ok[idx]]
                if not idx.size:
                    continue
                if w != 9:
                    for i in idx:
                        sr, sg, sb, dh = scalar_row(w, h, bufs[i])
                        sums[i] = (sr, sg, sb)
                        dhashes[i] = dh
                    continue
                # ONE frombuffer over the joined group buffer: np.stack
                # over thousands of tiny per-row arrays was the measured
                # hot spot (~20x this), not the math
                px = np.frombuffer(
                    b"".join(bufs[i] for i in idx), dtype=np.uint8
                ).astype(np.int64).reshape(len(idx), w * h, 3)
                sums[idx] = px.sum(axis=1)
                gray = (px.sum(axis=2) // 3).reshape(len(idx), h, w)
                bits = gray[:, :, :-1] < gray[:, :, 1:]
                packed = np.packbits(bits, axis=-1, bitorder="big")
                packed = packed.reshape(len(idx), h)
                for j, i in enumerate(idx):
                    dhashes[i] = packed[j].tobytes().hex()
            cols = {
                "doc_id": doc_ids,
                "width": widths,
                "height": heights,
                "maxval": maxvals,
                "sum_r": sums[:, 0],
                "sum_g": sums[:, 1],
                "sum_b": sums[:, 2],
                "dhash": dhashes,
            }
            if on_error == "quarantine":
                if not ok.all():  # null out the quarantined rows' stats
                    for c in ("width", "height", "maxval", "sum_r", "sum_g", "sum_b"):
                        cols[c] = [
                            None if errors[i] is not None else int(cols[c][i])
                            for i in range(n)
                        ]
                cols["decode_error"] = errors
            yield pd.DataFrame(cols)

    return media.mapInPandas(batches, schema)


# --- registered queries ------------------------------------------------------
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_features(media_table(spark, sf_dir))


# texts are ASCII, so octet_length == len and head_byte == ascii(first char);
# byte_sum folds over the code points (DuckDB side uses the same ASCII fact)
MULTIMODAL_FEATURES_SQL = """
SELECT doc_id,
       'text/plain' AS media_type,
       CAST(len(text) AS INTEGER) AS n_bytes,
       CAST(CASE WHEN len(text) > 0 THEN ascii(text) ELSE -1 END AS INTEGER)
           AS head_byte,
       CAST(list_sum(list_transform(string_split_regex(text, ''),
                                    c -> ascii(c))) AS BIGINT) AS byte_sum
FROM documents
"""


def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return image_stats(image_table(spark, sf_dir))


# shared oracle tail: the stats+dHash SELECT over a CTE g(doc_id, p,
# gray) at the standard 9x8 geometry — interpolated by BOTH the image
# stats and the resize-pipeline oracles so the dHash bit packing can
# never drift between them
_PPM_STATS_TAIL_SQL = f"""SELECT doc_id,
       CAST({IMG_W} AS INTEGER) AS width,
       CAST({IMG_H} AS INTEGER) AS height,
       CAST(255 AS INTEGER) AS maxval,
       CAST(list_aggregate(list_transform(range(0, {IMG_W * IMG_H}),
            k -> p[3*k+1]), 'sum') AS BIGINT) AS sum_r,
       CAST(list_aggregate(list_transform(range(0, {IMG_W * IMG_H}),
            k -> p[3*k+2]), 'sum') AS BIGINT) AS sum_g,
       CAST(list_aggregate(list_transform(range(0, {IMG_W * IMG_H}),
            k -> p[3*k+3]), 'sum') AS BIGINT) AS sum_b,
       array_to_string(list_transform(range(0, {IMG_H}), r ->
           lpad(lower(to_hex(list_aggregate(
               list_transform(range(0, {IMG_W - 1}), c ->
                   CASE WHEN gray[r*{IMG_W}+c+1] < gray[r*{IMG_W}+c+2]
                        THEN (1 << ({IMG_W} - 2 - c)) ELSE 0 END),
               'sum'))), 2, '0')), '') AS dhash
FROM g"""


# The oracle rebuilds the pixel formula closed-form and recomputes the
# stats + dHash from it — the Spark side must round-trip those values
# through a real binary encode -> parse -> decode to match.
MULTIMODAL_IMAGE_STATS_SQL = f"""
WITH px AS (
    SELECT doc_id,
           list_transform(range(0, {IMG_W * IMG_H * 3}),
                          i -> (doc_id * 131 + i * 17) % 256) AS p
    FROM documents
), g AS (
    SELECT doc_id, p,
           list_transform(range(0, {IMG_W * IMG_H}),
                          k -> (p[3*k+1] + p[3*k+2] + p[3*k+3]) // 3) AS gray
    FROM px
)
{_PPM_STATS_TAIL_SQL}
"""


# --- blocked Hamming near-dup join over a hex fingerprint column -------------
# Used by the image dHash pairs and the streaming media index: a
# fingerprint is 2*n_bands hex chars (one byte per band); candidates
# come from C(n_bands, m) tables keyed on m-band concatenations (Manku
# WWW'07), exact for Hamming <= n_bands - m; verification is per-band
# XOR popcount (8-bit values, no signed-64 conv overflow).
IMG_MAX_HAMMING = 4
IMG_BANDS = IMG_H  # one 8-bit band per dHash row byte
IMG_BLOCK_M = 2  # bands per candidate key (Manku blocked scheme)


def _hash_frame(stats: DataFrame | None, hash_col: str, default_fn):
    """Shared stats-injection contract of the three near-dup ops: a
    caller-supplied (doc_id, <hash_col>) frame (production hashes
    arrive precomputed; re-decoding for every join is waste) or the
    op's own decode path."""
    if stats is None:
        return default_fn()
    missing = {"doc_id", hash_col} - set(stats.columns)
    if missing:
        raise ValueError(f"stats frame lacks column(s) {sorted(missing)}")
    return stats.select("doc_id", hash_col)


def _band(col: str, i: int) -> Column:
    return F.substring(col, 1 + 2 * i, 2)


def _band_keys(
    st: DataFrame, hash_col: str, n_bands: int, m: int
) -> DataFrame:
    """(doc_id, <hash_col>) frame -> (doc_id, <hash_col>, tbl, kk)
    blocked candidate keys: one row per C(n_bands, m) combination,
    keyed on the concatenation of that combination's bands. This IS
    the probe/index layout — the inline miner self-joins it, and the
    streaming media index (``streaming/media_ingest``) persists it."""
    import itertools

    if not (1 <= m <= n_bands):
        raise ValueError(f"need 1 <= m <= {n_bands}, got {m}")
    # enforce the band geometry per row, loudly: substring past a short
    # hash returns '' and conv('')/bit_count(NULL) would NULL the
    # Hamming sum — silently dropping every candidate pair instead of
    # erroring (a non-standard-geometry fingerprint would do this)
    st = st.withColumn(
        hash_col,
        F.when(
            F.length(F.col(hash_col)) == 2 * n_bands, F.col(hash_col)
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"{hash_col} must be {2 * n_bands} hex chars "
                        f"({n_bands} bands), got: "
                    ),
                    F.coalesce(F.col(hash_col), F.lit("NULL")),
                )
            )
        ),
    )
    combos = list(itertools.combinations(range(n_bands), m))
    return st.select(
        "doc_id",
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        F.concat(*[_band(hash_col, i) for i in c]).alias(
                            "kk"
                        ),
                    )
                    for t, c in enumerate(combos)
                ]
            )
        ).alias("tk"),
    ).select("doc_id", hash_col, "tk.tbl", "tk.kk")


def _hamming_expr(n_bands: int) -> Column:
    """Σ over bands of bit_count(band_a XOR band_b) between the fixed
    ``fp_a``/``fp_b`` columns — 8-bit values, no signed-64 conv
    overflow."""
    return sum(
        F.bit_count(
            F.conv(_band("fp_a", i), 16, 10).cast("long").bitwiseXOR(
                F.conv(_band("fp_b", i), 16, 10).cast("long")
            )
        )
        for i in range(n_bands)
    ).cast("int")


def _check_block_bound(n_bands: int, m: int, max_hamming: int) -> None:
    if max_hamming > n_bands - m:
        raise ValueError(
            f"max_hamming {max_hamming} beyond the exact-detection bound "
            f"{n_bands - m} for m={m}; lower m or max_hamming"
        )


def _band_neardup_pairs(
    st: DataFrame,
    hash_col: str,
    n_bands: int,
    m: int,
    max_hamming: int,
) -> DataFrame:
    """(doc_id, <hash_col>) frame -> (doc_a, doc_b, hamming) pairs with
    Hamming <= max_hamming, via the blocked candidate scheme. Plan: one
    narrow scan -> explode C(n_bands, m) keys -> fine-grained
    (tbl, key) equi-join -> distinct -> codegen'd Hamming filter."""
    _check_block_bound(n_bands, m, max_hamming)
    return _band_pairs_from_keys(
        _band_keys(st, hash_col, n_bands, m), hash_col, n_bands, max_hamming
    )


def _band_pairs_from_keys(
    keys: DataFrame, hash_col: str, n_bands: int, max_hamming: int
) -> DataFrame:
    """The self-join half of the miner over an ALREADY-exploded
    ``_band_keys`` frame — callers that hold the keys (the ingest
    probe caches them) pass them here instead of re-exploding."""
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(b, ["tbl", "kk"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col(f"a.{hash_col}").alias("fp_a"),
            F.col(f"b.{hash_col}").alias("fp_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", _hamming_expr(n_bands))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def _band_neardup_sql(
    stats_sql: str, hash_col: str, n_bands: int, m: int, max_hamming: int
) -> str:
    """DuckDB twin of ``_band_neardup_pairs``: identical tables,
    identical per-band XOR popcount, over the given stats CTE."""
    import itertools

    combos = list(itertools.combinations(range(n_bands), m))
    key_rows = ", ".join(
        "({t}, {parts})".format(
            t=t,
            parts=" || ".join(
                f"substr({hash_col}, {1 + 2 * i}, 2)" for i in c
            ),
        )
        for t, c in enumerate(combos)
    )
    ham = " + ".join(
        f"bit_count(xor(('0x' || substr(fp_a, {1 + 2 * i}, 2))::BIGINT, "
        f"('0x' || substr(fp_b, {1 + 2 * i}, 2))::BIGINT))"
        for i in range(n_bands)
    )
    return f"""
WITH st AS ({stats_sql}),
keys AS (
    SELECT doc_id, {hash_col}, t.tbl, t.kk
    FROM st, LATERAL (VALUES {key_rows}) t(tbl, kk)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.{hash_col} AS fp_a, b.{hash_col} AS fp_b
    FROM keys a JOIN keys b USING (tbl, kk)
    WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST({ham} AS INTEGER) AS hamming
FROM cand
WHERE {ham} <= {max_hamming}
"""


def image_neardup_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_hamming: int = IMG_MAX_HAMMING,
    m: int = IMG_BLOCK_M,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate IMAGE pairs by dHash Hamming distance — the
    image-side analogue of the text SimHash path, reusing the repo's
    blocked candidate scheme (Manku WWW'07, `dedup.dedup_simhash_
    blocked`) instead of the classic single-band join: each of
    C(8, m) tables keys on the CONCATENATION of m of the hash's 8
    row-bytes, so buckets shrink from a 256-value keyspace to
    2^(8m) and candidate volume stays ~C(8,m)·N·B instead of N²/256
    on hash-diverse corpora. A pair within Hamming ≤ 8-m is GUARANTEED
    a clean m-subset (H dirty bits dirty ≤ H bands); with the defaults
    (m=2, max_hamming=4) detection is exact, not probabilistic.

    Verification is per-band: Σ over the 8 bands of
    ``bit_count(band_a XOR band_b)`` — 8-bit values, so no signed-
    64-bit ``conv`` overflow anywhere. Plan: one narrow decode scan →
    explode C(8,m) keys → fine-grained (tbl, key) equi-join →
    distinct → codegen'd Hamming filter; the same posting-list shape
    as the Jaccard/SimHash dedup family.

    Sizing ``m`` at scale: candidate volume on hash-diverse corpora is
    ~C(8,m) · 2^(8m) · C(N/2^(8m), 2); at 10M docs the m=2 default's
    16-bit keys leave ~150 docs/bucket (~2e10 candidates — too many),
    while m=3's 24-bit keys leave buckets below one doc (~2e8) at the
    cost of lowering the exact-detection bound to Hamming ≤ 5. Pass
    ``stats`` (a precomputed (doc_id, dhash) frame — production images
    arrive with real hashes, and re-decoding for every join is waste)
    to decouple the join from the synthetic decode path.
    """
    st = _hash_frame(
        stats,
        "dhash",
        lambda: image_stats(image_table(spark, sf_dir)).select(
            "doc_id", "dhash"
        ),
    )
    return _band_neardup_pairs(st, "dhash", IMG_BANDS, m, max_hamming)


IMAGE_NEARDUP_SQL = _band_neardup_sql(
    MULTIMODAL_IMAGE_STATS_SQL, "dhash", IMG_BANDS, IMG_BLOCK_M, IMG_MAX_HAMMING
)


# --- real video decode: uncompressed AVI (RIFF) + per-frame stats ------------
# The video analogue of the PPM path: AVI is a RIFF container whose
# LIST chunks nest (hdrl -> strl, movi -> frames), so the chunk walk
# descends into LIST chunks; frames are
# uncompressed DIBs, which carry the three classic bitmap storage
# traps — BOTTOM-UP row order (positive biHeight), BGR channel order,
# and 4-byte row stride padding — all of which the decoder must undo
# to recover the logical top-down RGB plane. The pixel formula is
# defined over that LOGICAL plane (frame 0 of doc d is byte-for-byte
# the PPM image of doc d), so the oracle never models the storage
# layout: a stride/flip/swap bug anywhere in build or decode is a
# value mismatch, not a silently-consistent error.
VID_W, VID_H = IMG_W, IMG_H  # per-frame dHash geometry, shared with images
VID_FRAMES = 4
VID_STRIDE = ((VID_W * 3 + 3) // 4) * 4  # DIB rows pad to 4-byte words
VIDEO_STATS_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, n_frames int, "
    "sum_r bigint, sum_g bigint, sum_b bigint, dhash string"
)


def _avi_header_bytes(w: int, h: int, n_frames: int) -> bytes:
    """RIFF/AVI prefix up to (and including) the 'movi' list fourcc:
    avih + strl(strh 'vids'/'DIB ' + strf BITMAPINFOHEADER, 24bpp
    BI_RGB, positive = bottom-up height). Frames ('00db' chunks)
    follow; sizes are exact for n_frames of stride*h bytes each."""
    import struct

    stride = ((w * 3 + 3) // 4) * 4
    frame_bytes = stride * h
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 0, 0, 0, 0
    )
    strh = (
        b"vids"
        + b"DIB "
        + struct.pack(
            "<IHHIIIIIIIi", 0, 0, 0, 0, 1, 30, 0, n_frames, frame_bytes, 0, -1
        )
        + struct.pack("<HHHH", 0, 0, w, h)
    )
    avih = struct.pack(
        "<14I", 33333, 0, 0, 0, n_frames, 0, 1, frame_bytes, w, h, 0, 0, 0, 0
    )
    strl = b"strl" + b"strh" + struct.pack("<I", 56) + strh
    strl += b"strf" + struct.pack("<I", 40) + strf
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", 56) + avih
    hdrl += b"LIST" + struct.pack("<I", len(strl)) + strl
    movi_size = 4 + n_frames * (8 + frame_bytes)
    riff_size = 4 + (8 + len(hdrl)) + (8 + movi_size)
    return (
        b"RIFF"
        + struct.pack("<I", riff_size)
        + b"AVI "
        + b"LIST"
        + struct.pack("<I", len(hdrl))
        + hdrl
        + b"LIST"
        + struct.pack("<I", movi_size)
        + b"movi"
    )


def video_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, payload binary, meta struct) where the
    payload is a complete deterministic uncompressed AVI (VID_FRAMES
    frames of VID_W x VID_H 24bpp DIB): logical top-down RGB byte
    ``i`` of frame ``f`` of doc ``d`` is ``(d*131 + f*37 + i*17) %
    256`` — frame 0 is exactly ``image_table``'s PPM pixel plane.

    Synthesis shape: the formula depends on ``d`` only through
    ``d*131 % 256``, so each frame has exactly 256 possible byte
    strings. A first cut evaluated the storage mapping (bottom-up
    rows, BGR order, stride padding) per BYTE inside ``transform`` —
    measured 40 s / 200k docs, 130× the decode cost, all of it
    synthesis overhead a real pipeline (bytes from storage) never
    pays. Now the 256×VID_FRAMES frame hex strings build ONCE over a
    256-row Range and a broadcast join keyed on
    ``pmod(doc_id*131, 256)`` assembles payload = header ‖
    ('00db' ‖ size ‖ unhex(frame)) per frame — per-row cost is one
    broadcast probe + concat, and the probe measures the DECODE."""
    import struct

    docs = _media_docs(spark, sf_dir)
    w, h, stride, nf = VID_W, VID_H, VID_STRIDE, VID_FRAMES
    frame_bytes = stride * h
    header = _avi_header_bytes(w, h, nf)

    # per (frame, storage byte) the formula's non-doc term is a
    # CONSTANT: c = (f*37 + i*17) % 256 for data bytes (i = the
    # logical index the bottom-up/BGR/stride mapping lands on), -1 for
    # padding. The LUT builds declaratively over a 256-row Range
    # (createDataFrame would plant a Scan ExistingRDD; the repo's plan
    # hygiene forbids it in any query path)
    frame_consts = []
    for f in range(nf):
        cs = []
        for j in range(frame_bytes):
            sr, o = divmod(j, stride)
            if o >= w * 3:
                cs.append(-1)  # stride padding -> byte 0
            else:
                r = h - 1 - sr  # bottom-up -> logical row
                c, bch = divmod(o, 3)
                i = (r * w + c) * 3 + (2 - bch)  # BGR -> logical ch
                cs.append((f * 37 + i * 17) % 256)
        frame_consts.append(cs)

    # the 256 × VID_FRAMES frame hex strings build in PYTHON on the
    # driver and ship as one JSON-literal inline table (round 15): the
    # Range-over-256 formulation evaluated 256·frames·frame_bytes
    # interpreted lambda elements inside the broadcast build (~1 s per
    # invocation at this geometry — the synthesis cost the docstring
    # above exists to avoid) for bytes a driver loop produces in
    # milliseconds. Identical payloads: same (dd + c) % 256 values,
    # "00" padding, and unhex is case-insensitive. Plan stays
    # Generate-over-Range (the hygiene pin: no Scan ExistingRDD).
    from fledge_south_csvplayback_spark.operators.inline import (
        literal_cols_df,
    )

    cols: dict[str, list] = {"dd": list(range(256))}
    for f, cs in enumerate(frame_consts):
        cols[f"fhex{f}"] = [
            "".join(
                "00" if c < 0 else f"{(dd + c) % 256:02x}" for c in cs
            )
            for dd in range(256)
        ]
    lut = literal_cols_df(
        spark,
        cols,
        "dd int, "
        + ", ".join(f"fhex{f} string" for f in range(len(frame_consts))),
    )

    parts = [F.lit(bytearray(header)).cast("binary")]
    for f in range(nf):
        chunk_hdr = b"00db" + struct.pack("<I", frame_bytes)
        parts.append(F.lit(bytearray(chunk_hdr)).cast("binary"))
        parts.append(F.unhex(F.col(f"fhex{f}")))
    payload = F.concat(*parts)
    return (
        docs.withColumn("dd", F.pmod(F.col("doc_id") * 131, F.lit(256)).cast("int"))
        .join(F.broadcast(lut), "dd")
        .select(
            "doc_id",
            payload.alias("payload"),
            F.struct(
                F.lit("video/x-msvideo").alias("media_type"),
                F.octet_length(payload).alias("declared_bytes"),
            ).alias("meta"),
        )
    )


def _make_avi_decoder():
    """Factory (cloudpickle by-value) for a generic RIFF/AVI parser:
    walks the chunk list with LIST descent (word-aligned per the RIFF
    spec), reads avih + the video stream's BITMAPINFOHEADER, validates
    24bpp BI_RGB and the declared frame count/geometry, and returns
    (width, height, bottom_up, stride, raw DIB frames). Row
    normalization (flip/swap/un-pad) stays with the caller so it can
    run vectorized."""

    def decode_avi(payload: bytes):
        import struct

        if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
            raise ValueError(
                f"not a RIFF/AVI payload: {payload[:4]!r}/{payload[8:12]!r}"
            )
        frames: list[bytes] = []
        bmi = avih = None

        def walk(pos: int, end: int, depth: int = 0) -> None:
            nonlocal bmi, avih
            # depth cap (round-12 review): a hostile payload of ~1100
            # nested LISTs would otherwise blow Python's recursion
            # limit — and RecursionError is not a ValueError, so it
            # would ESCAPE the quarantine catch and kill the job. Real
            # AVIs nest hdrl/strl/movi ~3 deep.
            if depth > 32:
                raise ValueError("LIST chunks nested deeper than 32")
            while pos + 8 <= end:
                cid = payload[pos : pos + 4]
                (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
                body = pos + 8
                if body + size > end:
                    raise ValueError(f"truncated {cid!r} chunk")
                if cid == b"LIST":
                    walk(body + 4, body + size, depth + 1)
                elif cid == b"avih":
                    if size < 56:
                        raise ValueError(
                            f"'avih' chunk declares {size} bytes, need >= 56"
                        )
                    avih = struct.unpack("<14I", payload[body : body + 56])
                elif cid == b"strf":
                    if size < 40:
                        raise ValueError(
                            f"'strf' chunk declares {size} bytes, need >= 40"
                        )
                    bmi = struct.unpack(
                        "<IiiHHIIiiII", payload[body : body + 40]
                    )
                elif cid == b"00db":
                    frames.append(payload[body : body + size])
                pos = body + size + (size & 1)  # chunks are word-aligned

        walk(12, len(payload))
        if bmi is None or avih is None:
            raise ValueError("missing avih/strf header chunk")
        _, w, h_signed, planes, bits, compression = bmi[:6]
        if planes != 1 or bits != 24 or compression != 0:
            raise ValueError(
                "only 24bpp BI_RGB DIB frames supported, got "
                f"planes={planes} bits={bits} compression={compression}"
            )
        if avih[4] != len(frames):
            raise ValueError(
                f"avih declares {avih[4]} frames, movi holds {len(frames)}"
            )
        bottom_up = h_signed > 0
        h = abs(h_signed)
        stride = ((w * 3 + 3) // 4) * 4
        for k, fr in enumerate(frames):
            if len(fr) != stride * h:
                raise ValueError(
                    f"frame {k} holds {len(fr)} bytes, need {stride * h}"
                )
        return w, h, bottom_up, stride, frames

    return decode_avi


_decode_avi = _make_avi_decoder()


def video_stats(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """Decode every AVI payload and emit one row PER FRAME: exact
    per-channel pixel sums plus the frame's 64-bit dHash (the image
    convention — bit (r, c) set when gray[r][c] < gray[r][c+1], one
    byte per row at the standard 9-wide geometry), so frame hashes
    join directly against image dHashes and feed the shared blocked
    band machinery. The 1->N fan-out (docs in, frames out) is the
    batch shape real frame extraction has.

    One mapInPandas pass, no shuffle. After the Python chunk walk,
    all frames of a (w, h, bottom_up) group stack into ONE numpy
    array per batch; un-padding, the bottom-up flip, the BGR->RGB
    swap, channel sums, and the gradient packbits all run vectorized
    (the image-stats fast-path precedent).

    ``on_error``: see ``image_stats`` — under ``"quarantine"`` a
    payload that fails the chunk walk yields ONE all-NULL row (no
    frames) carrying the error in ``decode_error``."""
    _check_on_error(on_error)
    decode = _decode_avi  # closure capture -> pickled by value
    group_runs = _make_group_runs()
    err_text = _err_text
    schema = VIDEO_STATS_SCHEMA + (
        ", decode_error string" if on_error == "quarantine" else ""
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            if not len(pdf):
                continue
            metas = []  # (doc_id, frame_idx, w, h, n_frames, bottom_up)
            raws: list[bytes] = []
            quarantined: list[tuple] = []  # (doc_id, error)
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    w, h, bottom_up, stride, frames = decode(payload)
                except (ValueError, TypeError) as ex:
                    if on_error == "raise":
                        raise
                    quarantined.append((doc_id, err_text(payload, ex)))
                    continue
                for fi, fr in enumerate(frames):
                    metas.append(
                        (doc_id, fi, w, h, len(frames), bottom_up, stride)
                    )
                    raws.append(fr)
            if quarantined and not raws:
                yield pd.DataFrame(
                    {
                        "doc_id": [d for d, _ in quarantined],
                        **{
                            c: [None] * len(quarantined)
                            for c in (
                                "frame_idx", "width", "height", "n_frames",
                                "sum_r", "sum_g", "sum_b", "dhash",
                            )
                        },
                        "decode_error": [e for _, e in quarantined],
                    }
                )
                continue
            if not raws:
                # a batch of only zero-frame AVIs (valid: avih declares
                # 0 frames, movi empty) yields zero rows; without this
                # guard the empty geom array makes lexsort inside
                # group_runs raise an opaque ValueError
                continue
            n = len(raws)
            sums = np.empty((n, 3), dtype=np.int64)
            dhashes: list[str | None] = [None] * n
            geom = np.array(
                [(m[2], m[3], m[5], m[6]) for m in metas], dtype=np.int64
            )
            for (w, h, bottom_up, stride), idx in group_runs(geom):
                arr = np.frombuffer(
                    b"".join(raws[i] for i in idx), dtype=np.uint8
                ).reshape(len(idx), h, stride)[:, :, : w * 3]
                rgb = arr.reshape(len(idx), h, w, 3).astype(np.int64)
                if bottom_up:
                    rgb = rgb[:, ::-1, :, :]
                rgb = rgb[..., ::-1]  # BGR -> RGB
                sums[idx] = rgb.reshape(len(idx), h * w, 3).sum(axis=1)
                gray = rgb.sum(axis=3) // 3
                if w == IMG_W:
                    # one byte per row: packbits big-endian == the
                    # image convention exactly (bit c at 1 << (7-c))
                    bits = gray[:, :, :-1] < gray[:, :, 1:]
                    packed = np.packbits(bits, axis=-1, bitorder="big")
                    flat = packed.reshape(len(idx), -1)
                    for j, i in enumerate(idx):
                        dhashes[i] = flat[j].tobytes().hex()
                else:
                    # scalar fallback in image_stats' RIGHT-aligned
                    # per-row hex convention (packbits LEFT-aligns the
                    # trailing byte, which would break the documented
                    # "joins directly against image dHashes" contract
                    # for non-standard widths)
                    nhex = -(-(w - 1) // 4)
                    for j, i in enumerate(idx):
                        rows_hex = []
                        for r in range(h):
                            byte = 0
                            for c in range(w - 1):
                                if gray[j, r, c] < gray[j, r, c + 1]:
                                    byte |= 1 << (w - 2 - c)
                            rows_hex.append(f"{byte:0{nhex}x}")
                        dhashes[i] = "".join(rows_hex)
            cols = {
                "doc_id": [m[0] for m in metas],
                "frame_idx": [m[1] for m in metas],
                "width": [m[2] for m in metas],
                "height": [m[3] for m in metas],
                "n_frames": [m[4] for m in metas],
                "sum_r": sums[:, 0],
                "sum_g": sums[:, 1],
                "sum_b": sums[:, 2],
                "dhash": dhashes,
            }
            if on_error == "quarantine":
                if quarantined:  # lists can grow; numpy slices can't
                    for c in ("sum_r", "sum_g", "sum_b"):
                        cols[c] = list(cols[c])
                cols["decode_error"] = [None] * len(metas)
                for doc_id, err in quarantined:
                    cols["doc_id"].append(doc_id)
                    for c in (
                        "frame_idx", "width", "height", "n_frames",
                        "sum_r", "sum_g", "sum_b", "dhash",
                    ):
                        cols[c].append(None)
                    cols["decode_error"].append(err)
            yield pd.DataFrame(cols)

    return media.mapInPandas(batches, schema)


def multimodal_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return video_stats(video_table(spark, sf_dir))


# closed-form oracle over the LOGICAL pixel formula — the Spark side
# must round-trip the values through the full storage layout (RIFF
# build -> bottom-up BGR padded rows -> parse -> normalize) to match
MULTIMODAL_VIDEO_STATS_SQL = f"""
WITH fr AS (
    SELECT doc_id, f
    FROM documents, unnest(generate_series(0, {VID_FRAMES - 1})) t(f)
), px AS (
    SELECT doc_id, f,
           list_transform(range(0, {VID_W * VID_H * 3}),
                          i -> (doc_id * 131 + f * 37 + i * 17) % 256) AS p
    FROM fr
), g AS (
    SELECT doc_id, f, p,
           list_transform(range(0, {VID_W * VID_H}),
                          k -> (p[3*k+1] + p[3*k+2] + p[3*k+3]) // 3) AS gray
    FROM px
)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST({VID_W} AS INTEGER) AS width,
       CAST({VID_H} AS INTEGER) AS height,
       CAST({VID_FRAMES} AS INTEGER) AS n_frames,
       CAST(list_aggregate(list_transform(range(0, {VID_W * VID_H}),
            k -> p[3*k+1]), 'sum') AS BIGINT) AS sum_r,
       CAST(list_aggregate(list_transform(range(0, {VID_W * VID_H}),
            k -> p[3*k+2]), 'sum') AS BIGINT) AS sum_g,
       CAST(list_aggregate(list_transform(range(0, {VID_W * VID_H}),
            k -> p[3*k+3]), 'sum') AS BIGINT) AS sum_b,
       array_to_string(list_transform(range(0, {VID_H}), r ->
           lpad(lower(to_hex(list_aggregate(
               list_transform(range(0, {VID_W - 1}), c ->
                   CASE WHEN gray[r*{VID_W}+c+1] < gray[r*{VID_W}+c+2]
                        THEN (1 << ({VID_W} - 2 - c)) ELSE 0 END),
               'sum'))), 2, '0')), '') AS dhash
FROM g
"""


# --- incremental near-dup ingest over a persisted band index -----------------
# The multimodal sibling of dedup.build_neardup_index/neardup_ingest:
# a 100 TB pipeline maintains the exploded (tbl, key) band table of
# the corpus's fingerprints so a crawl batch probes it instead of
# re-mining 10M+ hashes per ingest (the full image join measured
# 418 s / 14.1 GB shuffle at 10M — per crawl). The Hamming family is
# SIMPLER than the MinHash one: verification reads only the two
# fingerprints, which ride the band rows — no shingle store, no df
# cap, so the index is ONE table plus a geometry meta row.


# Keys-only broadcast cap for the ingest probe: (tbl int, kk <=2m hex)
# rows serialize to ~25 B, so the cap is a few hundred MB broadcast —
# deliberately above dedup.HOT_BROADCAST_MAX, which prices FULL rows.
_KEY_BROADCAST_MAX = 16_000_000


def _probe_pairs(
    idx: DataFrame,
    batch_keys: DataFrame,
    hash_col: str,
    n_bands: int,
    max_hamming: int,
) -> DataFrame:
    """Index band rows + a CACHED batch ``_band_keys`` frame ->
    cross-pairs (index x batch) unioned with within-batch pairs.
    Shared by the batch ingest and the streaming acceptance loop.

    The probe must never shuffle the corpus-sized index. A batch of
    B docs explodes to B·C(n_bands, m) band rows (100k docs at m=3
    is already 5.6M — measured: letting that fall through to a
    shuffle join moved 14.4 GB at a 10M index, the exact full-miner
    cost this op exists to avoid), so the broadcast is the batch's
    distinct (tbl, kk) KEY SET — two skinny columns, ~25 B/row —
    semi-pruning the index scan down to candidate rows before any
    wide join; the remaining equi-join is candidate×batch sized.
    ``_KEY_BROADCAST_MAX`` caps the keys-only broadcast (a few
    hundred MB at the cap); a larger batch degrades to the shuffle,
    which at that size amortizes like a rebuild and should be one.
    count() both sizes the guard and MATERIALIZES the cache, so the
    upstream decode/explode runs once for the probe, the within-batch
    miner, and the join below combined."""
    if batch_keys.count() <= _KEY_BROADCAST_MAX:
        idx = idx.join(
            F.broadcast(batch_keys.select("tbl", "kk").distinct()),
            ["tbl", "kk"],
            "left_semi",
        )
    i, b = idx.alias("i"), batch_keys.alias("b")
    flip = F.col("i.doc_id") > F.col("b.doc_id")
    cross = (
        i.join(b, ["tbl", "kk"])
        .filter(F.col("i.doc_id") != F.col("b.doc_id"))
        .select(
            F.when(flip, F.col("b.doc_id"))
            .otherwise(F.col("i.doc_id"))
            .alias("doc_a"),
            F.when(flip, F.col("i.doc_id"))
            .otherwise(F.col("b.doc_id"))
            .alias("doc_b"),
            # hamming is symmetric; fp sides need not follow the flip
            F.col(f"i.{hash_col}").alias("fp_a"),
            F.col(f"b.{hash_col}").alias("fp_b"),
        )
        .distinct()
        .withColumn("hamming", _hamming_expr(n_bands))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    within = _band_pairs_from_keys(
        batch_keys, hash_col, n_bands, max_hamming
    )
    return cross.unionByName(within)


# --- image resize (box downsample) -------------------------------------------
# The resize stage of a real image pipeline (decode -> RESIZE to the
# hash geometry -> dHash): box averaging — each output pixel is the
# mean of its bh x bw source block — is the standard antialiasing
# downsample (PIL's Image.BOX), and with integer floor-division means
# it is EXACTLY reproducible in SQL, so unlike interpolating kernels
# the whole stage is oracle-checkable. Output is a complete PPM P6
# payload of the target geometry, so the op COMPOSES with image_stats
# (decode -> resize -> decode -> stats, two Arrow-batched passes, the
# shape a thumbnail-then-hash pipeline has).
IMG2_W, IMG2_H = 2 * IMG_W, 2 * IMG_H  # 18 x 16 source -> 2x2 boxes


def image_table_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> PPM payloads at 18x16 (4x the pixel count of
    ``image_table``, same formula over the larger plane); see
    ``_ppm_table``."""
    return _ppm_table(spark, sf_dir, IMG2_W, IMG2_H)


def image_resize(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Decode every PPM payload and box-downsample to (out_w, out_h):
    output pixel = floor(mean of its block), per channel. Source dims
    must be exact multiples of the target (the divisible-box case is
    where box averaging is exact; fractional boxes need weighting —
    raise rather than approximate silently). Emits (doc_id, width,
    height, payload) where payload is a complete PPM P6 of the target
    geometry CARRYING the source's maxval (box means of values in
    [0, maxval] stay in range, and relabeling a maxval-127 image as
    255 would silently halve its normalized brightness downstream) —
    feed it straight back into ``image_stats``.

    One mapInPandas pass; per (w, h) group the block mean is a single
    reshape + sum, vectorized."""
    if out_w < 1 or out_h < 1:
        raise ValueError(f"bad target geometry {out_w}x{out_h}")
    decode = _decode_ppm  # closure capture -> pickled by value
    group_runs = _make_group_runs()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            n = len(pdf)
            if not n:
                continue
            dims = np.empty((n, 2), dtype=np.int64)
            maxvals = np.empty(n, dtype=np.int64)
            bufs: list[bytes] = [b""] * n
            for i, payload in enumerate(pdf["payload"]):
                w, h, maxval, buf = decode(payload)
                if w % out_w or h % out_h:
                    raise ValueError(
                        f"box resize needs source {w}x{h} divisible by "
                        f"target {out_w}x{out_h}"
                    )
                dims[i] = (w, h)
                maxvals[i] = maxval
                bufs[i] = buf
            payloads: list[bytes] = [b""] * n
            for (w, h), idx in group_runs(dims):
                bh, bw = h // out_h, w // out_w
                px = np.frombuffer(
                    b"".join(bufs[i] for i in idx), dtype=np.uint8
                ).astype(np.int64).reshape(len(idx), out_h, bh, out_w, bw, 3)
                small = px.sum(axis=(2, 4)) // (bh * bw)  # (k, oh, ow, 3)
                small = small.astype(np.uint8)
                for j, i in enumerate(idx):
                    hdr = f"P6\n{out_w} {out_h}\n{maxvals[i]}\n".encode()
                    payloads[i] = hdr + small[j].tobytes()
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": out_w,
                    "height": out_h,
                    "payload": payloads,
                }
            )

    return media.mapInPandas(
        batches, "doc_id long, width int, height int, payload binary"
    )


def multimodal_image_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real-image hashing pipeline end-to-end: decode the 18x16
    source, box-resize to the 9x8 dHash geometry, re-decode the
    emitted PPM, and hash — two composed Arrow-batched decode passes."""
    resized = image_resize(image_table_large(spark, sf_dir), IMG_W, IMG_H)
    return image_stats(resized.select("doc_id", "payload"))


# closed-form oracle: box means over the 18x16 formula plane, then the
# standard stats+dHash recomputation over the resized plane
MULTIMODAL_IMAGE_RESIZE_SQL = f"""
WITH px AS (
    SELECT doc_id,
           list_transform(range(0, {IMG_W * IMG_H * 3}), k ->
               -- k = (r*{IMG_W}+c)*3+ch; its 2x2 source block in the
               -- {IMG2_W}x{IMG2_H} plane: rows 2r,2r+1, cols 2c,2c+1
               (
                 ((doc_id*131 + (((k//3)//{IMG_W}*2  )*{IMG2_W} + (k//3)%{IMG_W}*2  )*3*17 + (k%3)*17) % 256) +
                 ((doc_id*131 + (((k//3)//{IMG_W}*2  )*{IMG2_W} + (k//3)%{IMG_W}*2+1)*3*17 + (k%3)*17) % 256) +
                 ((doc_id*131 + (((k//3)//{IMG_W}*2+1)*{IMG2_W} + (k//3)%{IMG_W}*2  )*3*17 + (k%3)*17) % 256) +
                 ((doc_id*131 + (((k//3)//{IMG_W}*2+1)*{IMG2_W} + (k//3)%{IMG_W}*2+1)*3*17 + (k%3)*17) % 256)
               ) // 4
           ) AS p
    FROM documents
), g AS (
    SELECT doc_id, p,
           list_transform(range(0, {IMG_W * IMG_H}),
                          k -> (p[3*k+1] + p[3*k+2] + p[3*k+3]) // 3) AS gray
    FROM px
)
{_PPM_STATS_TAIL_SQL}
"""

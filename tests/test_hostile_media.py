"""Malformed binary payloads vs the decode layer (round-12 envelope
pass for the media sources, completing the CSV/JSONL/documents/
embeddings/events series).

Contract under test: ``on_error="raise"`` (the default every
oracle-checked entry uses) fails the job loudly on the first bad
payload; ``on_error="quarantine"`` — the corrupt-record pattern
extended to binary — yields ONE NULL-stats row per bad payload with
the error text in ``decode_error`` while every clean payload's stats
are byte-identical to the raise path. One corrupt blob in a 100 TB
scan must cost one row, not the job.
"""

from __future__ import annotations

import pytest

from fledge_south_csvplayback_spark.operators import multimodal as M
from tests.conftest import TEST_SF_DIR


def _good_payload(spark, table_fn):
    r = (
        table_fn(spark, TEST_SF_DIR)
        .select("doc_id", "payload")
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]
    )
    return bytes(r.payload)


def _media_df(spark, cases):
    rows = [
        (i, bytearray(p) if p is not None else None)
        for i, p in enumerate(cases)
    ]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def _corruptions(good: bytes) -> list[bytes | None]:
    # [0]=clean, [1]=truncated, [2]=bad magic, [3]=NULL
    return [good, good[: len(good) // 3], b"XX" + good[2:], None]


@pytest.mark.parametrize(
    "table_fn,stats_fn",
    [
        (M.image_table, M.image_stats),
        (M.video_table, M.video_stats),
    ],
    ids=["image", "video"],
)
def test_quarantine_isolates_bad_payloads(spark, table_fn, stats_fn):
    good = _good_payload(spark, table_fn)
    media = _media_df(spark, _corruptions(good))

    # raise mode: the first malformed payload fails the job (pinned —
    # this is what every oracle-checked entry runs)
    with pytest.raises(Exception):
        stats_fn(media).collect()

    out = stats_fn(media, on_error="quarantine").collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)

    # clean payload: stats identical to the raise path on a clean frame
    clean_only = stats_fn(_media_df(spark, [good])).collect()
    want = [tuple(r)[1:] for r in clean_only]  # drop doc_id
    got = [tuple(r)[1:-1] for r in by_doc[0]]  # drop doc_id + decode_error
    assert got == want
    assert all(r.decode_error is None for r in by_doc[0])

    # each bad payload: exactly one all-NULL row carrying the error
    for doc_id in (1, 2, 3):
        assert len(by_doc[doc_id]) == 1, doc_id
        r = by_doc[doc_id][0]
        assert r.decode_error, doc_id
        vals = [v for k, v in r.asDict().items() if k not in ("doc_id", "decode_error")]
        assert all(v is None for v in vals), (doc_id, vals)
    assert "NULL payload" in by_doc[3][0].decode_error or "NULL" in by_doc[3][0].decode_error


def test_avi_list_nesting_bomb_is_quarantinable(spark):
    """~2000 nested LIST chunks would blow Python's recursion limit —
    and RecursionError is not a ValueError, so it would ESCAPE the
    quarantine catch and kill the job (round-12 review). The decoder
    caps LIST depth with a ValueError instead."""
    import struct

    core = b""
    for _ in range(2000):
        core = b"LIST" + struct.pack("<I", len(core) + 4) + b"xxxx" + core
    bomb = b"RIFF" + struct.pack("<I", len(core) + 4) + b"AVI " + core

    with pytest.raises(Exception, match="nested deeper"):
        M._decode_avi(bomb)
    out = M.video_stats(
        _media_df(spark, [bomb]), on_error="quarantine"
    ).collect()
    assert len(out) == 1
    assert "nested deeper" in out[0].decode_error


def test_quarantine_schema_is_opt_in(spark):
    media = M.image_table(spark, TEST_SF_DIR).limit(1)
    assert "decode_error" not in M.image_stats(media).columns
    assert M.image_stats(media, on_error="quarantine").columns[-1] == "decode_error"
    with pytest.raises(ValueError, match="on_error"):
        M.image_stats(media, on_error="skip")

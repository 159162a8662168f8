"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its arguments: the same seed
gives byte-identical files. Randomness comes from ``random.Random``
instances seeded per file, never from global state, and values are
written with fixed formats so the text never depends on float repr.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# One reference-default burst (sampleRate 8000 x burstInterval 1000 ms)
# per landed file, four vibration channels per reading.
BURST_ROWS = 8000
CHANNELS = ("x", "y", "z", "m")
PLAYBACK_SCHEMA = ", ".join(f"{c} string" for c in CHANNELS)

SENSOR_CHANNELS = ("a", "b", "c", "d")
SENSOR_DEAD = "dead"  # the all-null column the ETL must drop
HOLE_RATE = 0.05

VOCAB = 4000
BOILERPLATE_TOKENS = 60
BOILERPLATE_SPANS = 4


def _write(path: str, text: str) -> None:
    # land atomically so a file-source stream never sees a half file
    tmp = path + ".tmp"
    with open(tmp, "w", newline="") as f:
        f.write(text)
    os.rename(tmp, path)


# --- playback_drain -----------------------------------------------------------
def pair_checksum(pairs) -> int:
    """Order-insensitive checksum of (datapoint, value) string pairs: the
    sum of their hashes, mod 2**64. String hashes are salted per process,
    so compare only checksums taken in one process."""
    return sum(map(hash, pairs)) % (1 << 64)


def file_pairs(path: str):
    """(datapoint, value) pairs of one landed burst file, as text."""
    with open(path, newline="") as f:
        header = f.readline().rstrip("\n").split(",")
        for line in f:
            yield from zip(header, line.rstrip("\n").split(","))


def vibration_file(seed: int, index: int, part: str = "main") -> tuple[str, int]:
    """(csv text, :func:`pair_checksum` of its pairs) of one burst file."""
    rng = random.Random(f"vib:{part}:{seed}:{index}")
    rows = [
        [f"{rng.uniform(-2.0, 2.0):.6f}" for _ in CHANNELS] for _ in range(BURST_ROWS)
    ]
    text = "\n".join([",".join(CHANNELS)] + [",".join(r) for r in rows]) + "\n"
    return text, pair_checksum((c, v) for r in rows for c, v in zip(CHANNELS, r))


def land_vibration(
    directory: str, seed: int, n_files: int, part: str = "main"
) -> int:
    """Write ``n_files`` burst files; return the checksum of all of them."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for i in range(n_files):
        text, ck = vibration_file(seed, i, part)
        _write(os.path.join(directory, f"vib_{i:05d}.csv"), text)
        total += ck
    return total % (1 << 64)


# --- sensor_etl ---------------------------------------------------------------
def sensor_file(seed: int, index: int, rows: int, part: str = "main") -> str:
    """``user_ts`` plus four channels and one all-null column.

    About ``HOLE_RATE`` of the channel cells are isolated holes; each
    channel also gets runs of 3-8 consecutive holes, a leading gap and a
    trailing gap of a few rows, so every branch of the linear fill
    (interior, run, before the first and after the last value) is hit.
    Holes are written as empty cells or whitespace, both of which the
    ETL reads as nulls."""
    rng = random.Random(f"sensor:{part}:{seed}:{index}")
    holes = {c: set() for c in SENSOR_CHANNELS}
    for c in SENSOR_CHANNELS:
        h = holes[c]
        h.update(range(rng.randint(1, 4)))  # leading gap
        h.update(range(rows - rng.randint(1, 4), rows))  # trailing gap
        for _ in range(max(1, rows // 500)):
            start = rng.randrange(10, rows - 20)
            h.update(range(start, start + rng.randint(3, 8)))
        for r in range(rows):
            if rng.random() < HOLE_RATE:
                h.add(r)
    lines = ["user_ts," + ",".join(SENSOR_CHANNELS) + "," + SENSOR_DEAD]
    for r in range(rows):
        cells = []
        for c in SENSOR_CHANNELS:
            if r in holes[c]:
                cells.append(" " if rng.random() < 0.2 else "")
            else:
                cells.append(f"{rng.uniform(-50.0, 50.0):.6f}")
        ts = f"2024-01-01 {r // 3_600_000:02d}:{r // 60_000 % 60:02d}:{r // 1000 % 60:02d}.{r % 1000:03d}"
        lines.append(ts + "," + ",".join(cells) + ",")
    return "\n".join(lines) + "\n"


def land_sensor(
    directory: str, seed: int, n_files: int, rows: int, part: str = "main"
) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i in range(n_files):
        p = os.path.join(directory, f"sensor_{i:04d}.csv")
        _write(p, sensor_file(seed, i, rows, part))
        paths.append(p)
    return paths


# --- corpus (probed in the traced playback_drain run) -------------------------
def corpus_table(
    seed: int, n_docs: int, part: str = "main"
) -> tuple[pa.Table, list[tuple[int, int]]]:
    """A ``documents`` table and its planted near-dup pairs.

    - ~10% of docs are near-dups: a copy of an earlier original with its
      last token replaced, so the pair's 3-gram Jaccard is (k-1)/(k+1)
      for k >= 58 shingles, i.e. >= 0.966 -- far above the 0.8 threshold,
      where MinHash-LSH misses a pair with probability < 1e-7.
    - ~10% of originals carry one of a few shared 60-token boilerplate
      spans, so the repeated-span scrub has work; each such doc keeps at
      least 40 tokens of its own text, which holds boilerplate-only
      Jaccard far below the threshold.
    - every 97th doc is the decontamination benchmark's eval leak, by
      ``curation._benchmark``'s own rule.
    """
    rng = random.Random(f"corpus:{part}:{seed}")
    spans = [
        [f"bp{s}w{rng.randrange(VOCAB)}" for _ in range(BOILERPLATE_TOKENS)]
        for s in range(BOILERPLATE_SPANS)
    ]
    texts: list[str] = []
    originals: list[int] = []
    planted: list[tuple[int, int]] = []
    for doc_id in range(n_docs):
        if originals and rng.random() < 0.10:
            src = originals.pop(rng.randrange(len(originals)))
            toks = texts[src].split(" ")
            toks[-1] = f"nd{doc_id}"
            planted.append((src, doc_id))
        else:
            toks = [f"w{rng.randrange(VOCAB)}" for _ in range(rng.randint(60, 110))]
            if rng.random() < 0.10:
                cut = rng.randint(20, len(toks) - 20)
                toks[cut:cut] = spans[rng.randrange(BOILERPLATE_SPANS)]
            originals.append(doc_id)
        texts.append(" ".join(toks))
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array([f"src{i % 7}" for i in range(n_docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, planted


def land_corpus(
    sf_dir: str, seed: int, n_docs: int, part: str = "main"
) -> list[tuple[int, int]]:
    os.makedirs(sf_dir, exist_ok=True)
    table, planted = corpus_table(seed, n_docs, part)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return planted

"""Similarity search over the ``embeddings`` table (array<float>, 64-d).

Two paths, per the training-pipeline brief:

- **brute-force cosine top-k** (the correctness baseline AND the
  default full-accuracy scale path — measured 8.8 s / 1.14M vecs/s /
  40 KB shuffle at 10M×64-d, `probes/probe_ann_10m.py`): the |Q|
  query vectors ride in a ``mapInPandas`` closure; each Arrow batch
  GEMMs against the query matrix (BLAS) and emits only its per-batch
  top-k, so the post-scoring exchange carries ~batches·|Q|·k tiny
  rows — cost |Q|·N compute with N scanned once, near-zero shuffle,
  and no join operator at all (so no fact×fact cartesian either).
- **LSH-bucketed ANN** (the selective-candidate semantics): 16
  deterministic random hyperplanes (driver-seeded, embedded as literal
  arrays) hashed into 8 bands × 2 bits; a candidate must share a band
  bucket with the query. Since round 5 the buckets are a candidate
  MASK inside the shared mapInPandas GEMM scorer, not a join: the
  original explode + broadcast-join + dedup plan shipped (vec, norm)
  arrays per candidate (30.2 GB at 10M×64-d) and paid an interpreted
  Catalyst dot per candidate (297 s); the mask plan measured 97.8 s /
  40 KB shuffle, recall@5 1.0, identical output.
  Because the hyperplanes are *literal* double arrays (not runtime
  hashes), the identical buckets are rebuilt in the DuckDB oracle by
  embedding the same literals in the SQL — the LSH entries are fully
  value-checked, with ranking on round(cosine, 6) in both engines so
  float summation order cannot reorder near-ties.
- **embedding near-dup pairs**: same hyperplane buckets, but pair
  scoring is a *within-bucket normalized GEMM* (Arrow-batched
  applyInPandas, BLAS) rather than a self-join evaluating a Catalyst
  dot per candidate row — per-pair expression evaluation is
  interpreter-bound (µs/pair) and was 2 orders of magnitude slower at
  sf0.1. Only pairs at/above threshold leave Python.

Arrays are cast float->double before arithmetic so Spark and DuckDB
accumulate in the same precision.
"""

from __future__ import annotations

import hashlib
import math
import struct

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
LSH_PLANES = 16
LSH_BANDS = 8  # 2 bits per band: high candidate recall, still prunes ~3/4
DIM = 64


def _emb(
    spark: SparkSession, sf_dir: str, scorable: bool = False
) -> DataFrame:
    """The shared embeddings loader. NULL embeddings are dropped
    unconditionally (a NULL is not a point — every consumer's
    ``np.stack``/dot would otherwise crash; found by the round-11
    hostile-embeddings sweep). ``scorable=True`` additionally drops
    zero-norm vectors — cosine is undefined for them, so every cosine
    SEARCH path (and its index builder, so index and query agree)
    excludes them, mirrored by the ``n > 0`` predicate in the DuckDB
    oracles; kmeans/PCA/quantizer-encode paths keep them (a zero
    vector is a legitimate euclidean point), and semantic_dedup keeps
    its own documented rule (zero-norm survives at cosine 0)."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter(F.col("embedding").isNotNull())
        .select(
            "vec_id",
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "v"
            ),
        )
    )
    if scorable:
        emb = emb.filter(_norm(F.col("v")) > 0)
    return emb


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


# --- brute-force cosine top-k ------------------------------------------------
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k as a mapInPandas per-batch partial top-k.

    The |Q|=10 query vectors are collected to the driver (a filtered
    10-row scan; query/index metadata is driver-resident in any real
    deployment — same pattern as the IVF entry) and shipped in the UDF
    closure. Each Arrow batch of the big side then GEMMs its vectors
    against the query matrix (one BLAS matmul per batch, no join
    operator at all) and emits only its per-batch top-k per query, so
    the exchange after scoring carries ≤ batches·|Q|·k tiny
    (query_id, vec_id, cosine) rows — not the N·|Q| scored structs a
    groupBy/collect_list formulation ships inside partial-agg buffers
    (Catalyst cannot push a result-expression ``slice`` into a partial
    aggregate, so "map-side top-k via collect_list" is a myth; verified
    with ``explain``).

    The physical plan this actually produces (read from
    ``explain(mode="formatted")``, pinned by
    ``test_bruteforce_topk_is_partial_no_collect_list``):
    Scan parquet → Project (norm) → MapInPandas → Sort +
    WindowGroupLimit(Partial, k) → Exchange hashpartitioning(query_id)
    carrying only (query_id, vec_id, cosine) survivors →
    WindowGroupLimit(Final) → Window row_number → Filter rank ≤ k.
    Spark's WindowGroupLimit prunes map-side to ≤k per query per task
    *on top of* the per-batch top-k, so the exchange payload is
    ≤ tasks·|Q|·k 24-byte rows. No collect_list anywhere.

    Per-batch and global selection use the SAME total order —
    round(cosine, 6) DESC, vec_id ASC — so the global top-k over the
    union of batch top-ks equals the true top-k (every global winner is
    a winner in its own batch). Rounding *before* ranking mirrors the
    oracle (which ranks on ROUND(cosine, 6)) so numpy-BLAS vs DuckDB
    float-summation order cannot reorder near-ties.
    """
    emb = _emb(spark, sf_dir, scorable=True).withColumn("norm", _norm(F.col("v")))
    # probe set None = unmasked full scan; the scorer body is shared
    # with both IVF paths so the ranking contract cannot drift
    qmat = [
        (r["vec_id"], list(r["v"]), r["norm"], None)
        for r in emb.filter(F.col("vec_id") < N_QUERIES).collect()
    ]
    partial = emb.mapInPandas(
        _masked_partial_topk(qmat), "query_id long, vec_id long, cosine double"
    )
    return _rank_topk(partial)


ANN_COSINE_TOPK_SQL = f"""
WITH e AS (
    -- NULL embeddings are not points; zero-norm vectors have no
    -- cosine — both excluded from search, mirroring _emb(scorable)
    SELECT * FROM (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings WHERE embedding IS NOT NULL
    ) WHERE nrm > 0
),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < {N_QUERIES}),
p AS (
    -- rank on ROUND(cosine, 6), matching the Spark side, so BLAS vs
    -- sequential float summation order cannot reorder near-ties
    SELECT q.query_id, e.vec_id,
           ROUND(list_dot_product(e.v, q.qv) / (e.nrm * q.qn), 6) AS cosine
    FROM e, q
    WHERE e.vec_id != q.query_id
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
    FROM p
)
SELECT query_id, rank, vec_id, cosine
FROM r WHERE rank <= {TOP_K}
"""


# --- LSH-bucketed ANN --------------------------------------------------------
def _hyperplanes(n: int = LSH_PLANES, dim: int = DIM) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (seeded SHA-256 stream)."""
    planes = []
    for p in range(n):
        vals: list[float] = []
        chunk = 0
        while len(vals) < dim:
            h = hashlib.sha256(f"lsh:{p}:{chunk}".encode()).digest()  # 32 bytes
            vals.extend(
                struct.unpack(">q", h[i : i + 8])[0] / 2**63
                for i in range(0, 32, 8)
            )
            chunk += 1
        planes.append(vals[:dim])
    return planes


def _lsh_bands(v: Column | str = "v") -> Column:
    """Array of (band, key) structs from hyperplane sign bits.

    The whole expression builds as ONE SQL string parsed JVM-side
    (round 15, the ``dedup_simhash`` precedent): the per-``Column``
    formulation issued ~1.5k Py4J round trips per invocation — the
    nested planes literal plus 64 dot subtrees — measured 0.7-1.0 s
    of driver time on every LSH entry. The planes matrix binds ONCE
    via the repo's let-binding idiom (``element_at(transform(array(P),
    planes -> ...), 1)``); each sign bit keeps the identical
    ``aggregate(zip_with(...))`` left-to-right dot fold, ``>= 0``
    comparison, CASE 1/0 bit and integer shift-multiply fold, so bits
    and band keys are bit-identical to the previous expression (and to
    the oracle's ``list_dot_product`` rebuild) — pinned empirically by
    ``test_lsh_band_sql_matches_column_build``. A shared ``bits``
    array referenced via element_at would be COPIED into each
    reference and re-evaluate all 16 dots per band key (measured 16x
    the dot work), so each key folds its own 8 dots, as before."""
    if not isinstance(v, str):
        # Column callers always pass F.col("v") in this module; the SQL
        # text needs the NAME, so reject anything else loudly
        name = v._jc.toString()  # noqa: SLF001 — unqualified column name
        if not name.isidentifier():
            raise ValueError(f"_lsh_bands needs a plain column name, got {name!r}")
        v = name
    # a column literally named one of the generated SQL's lambda
    # variables would be silently SHADOWED inside the expression and
    # produce wrong band keys with no error (round-15 advisory) —
    # reject the reserved identifiers explicitly
    if v in {"planes", "b", "x", "y", "acc"}:
        raise ValueError(
            f"_lsh_bands: column name {v!r} collides with a lambda "
            "variable of the generated SQL; alias the column first"
        )
    per_band = LSH_PLANES // LSH_BANDS
    planes_sql = "array(" + ", ".join(
        "array(" + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in p) + ")"
        for p in _hyperplanes()
    ) + ")"

    def bit(i: int) -> str:
        # one dot per (row, plane); idx = ((b * per_band) + i) + 1,
        # the exact Column-arithmetic shape the tree build produced
        dot = (
            f"aggregate(zip_with({v}, element_at(planes, ((b * {per_band}) "
            f"+ {i}) + 1), (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
        )
        return f"(CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END) * {1 << i}"

    key = "0"
    for i in range(per_band):
        key = f"({key} + {bit(i)})"
    return F.expr(
        f"element_at(transform(array({planes_sql}), planes -> "
        f"transform(sequence(0, {LSH_BANDS - 1}), b -> "
        f"named_struct('band', b, 'key', {key}))), 1)"
    )


def _case_key_sql() -> str:
    return " ".join(f"WHEN {b} THEN k{b}" for b in range(LSH_BANDS))


def _banded_sql() -> str:
    """DuckDB CTEs rebuilding the exact Spark LSH buckets: the same
    hyperplane literals, the same sign-bit band keys. Emits ``e``
    (vectors + norms) and ``banded`` (vec_id, band, key)."""
    per_band = LSH_PLANES // LSH_BANDS
    planes = _hyperplanes()
    lits = ["[" + ", ".join(repr(x) for x in p) + "]" for p in planes]
    keys = []
    for b in range(LSH_BANDS):
        bits = " + ".join(
            f"CASE WHEN list_dot_product(v, {lits[b * per_band + i]}) >= 0 "
            f"THEN {1 << i} ELSE 0 END"
            for i in range(per_band)
        )
        keys.append(f"({bits}) AS k{b}")
    case_key = _case_key_sql()
    return f"""
e AS (
    -- NULL embeddings are not points; zero-norm vectors have no
    -- cosine — both excluded from search, mirroring _emb(scorable)
    SELECT * FROM (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings WHERE embedding IS NOT NULL
    ) WHERE nrm > 0
),
k AS (SELECT vec_id, v, nrm, {", ".join(keys)} FROM e),
banded AS (
    SELECT vec_id, band, CASE band {case_key} END AS key
    FROM k CROSS JOIN (SELECT unnest(range({LSH_BANDS})) AS band) b
)"""


COSINE_PAIR_THRESHOLD = 0.45  # the synthetic embeddings top out near 0.51


def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup mining: all pairs above a cosine
    threshold, candidates from the hyperplane-LSH band buckets (no
    all-pairs cross join), verified with the exact cosine.

    Oracle-checked: the bucket assignment is rebuilt literally in SQL
    (see ``_banded_sql``), so DuckDB produces the identical candidate
    set and the identical surviving pairs.
    """
    emb = _emb(spark, sf_dir, scorable=True).withColumn("norm", _norm(F.col("v")))
    banded = emb.withColumn("bk", F.explode(_lsh_bands(F.col("v")))).select(
        "vec_id", "v", "norm", "bk.band", "bk.key"
    )

    # Within-bucket scoring is a dense matmul, not a pair join. A
    # band-bucket self-join evaluates a 64-d dot per matched row with
    # Catalyst expressions — higher-order functions are interpreted
    # (~13 µs/pair measured) and even an unrolled element_at sum is
    # worse (~37 µs/pair); at 4M candidate pairs (sf0.1) that was
    # 50-160 s of expression evaluation. One normalized GEMM per bucket
    # (Mn @ Mn.T, BLAS via Arrow-batched applyInPandas) scores the same
    # pairs in milliseconds, and only pairs above threshold leave
    # Python. The shuffle is `banded` grouped by (band, key) — vectors
    # cross the wire once. At larger corpora add planes/bands so
    # buckets stay bounded, and block the GEMM within a bucket; the
    # grouping plan is unchanged.
    def _bucket_pairs(pdf):
        import numpy as np
        import pandas as pd

        cols = ["vec_a", "vec_b", "cosine"]
        if len(pdf) < 2:
            return pd.DataFrame(columns=cols)
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["v"].to_numpy())
        mn = m / pdf["norm"].to_numpy()[:, None]
        sim = mn @ mn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        c = np.round(sim[iu, ju], 6)
        keep = c >= COSINE_PAIR_THRESHOLD
        ia, ib = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ia, ib),
                "vec_b": np.maximum(ia, ib),
                "cosine": c[keep],
            }
        )

    pairs = banded.groupBy("band", "key").applyInPandas(
        _bucket_pairs, "vec_a long, vec_b long, cosine double"
    )
    # a pair co-bucketed in several bands is scored once per band, by
    # different GEMMs over different bucket matrices — BLAS blocking can
    # differ at the last ulp, so at a rounding boundary the rounded
    # cosines are not guaranteed identical across bands. Collapse on the
    # pair key alone and keep the max, never distinct over the full row
    # (which would emit the pair twice on such a boundary).
    return pairs.groupBy("vec_a", "vec_b").agg(F.max("cosine").alias("cosine"))


def _embedding_cosine_pairs_sql() -> str:
    # mirrors the Spark plan exactly: cosine inside the band join,
    # threshold on the ROUNDED value, max-per-pair over surviving bands
    # (DuckDB's per-band cosines are deterministic and identical, so
    # MAX = the single value; Spark's collapse rule is the same shape)
    return f"""
WITH {_banded_sql()},
eb AS (
    SELECT k.vec_id, bd.band, CASE bd.band {_case_key_sql()} END AS key,
           k.v, k.nrm
    FROM k CROSS JOIN (SELECT unnest(range({LSH_BANDS})) AS band) bd(band)
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       MAX(ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)) AS cosine
FROM eb a JOIN eb b
  ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
      >= {COSINE_PAIR_THRESHOLD}
GROUP BY 1, 2
"""


EMBEDDING_COSINE_PAIRS_SQL = _embedding_cosine_pairs_sql()


# --- IVF (inverted-file) ANN -------------------------------------------------
IVF_CELLS = 16
IVF_NPROBE = 4


def _qdot(qv: list[float], cv: list[float]) -> float:
    acc = 0.0
    for x, y in zip(qv, cv):
        acc += x * y
    return acc


def _probe_sets(
    queries: list[tuple], cents: list[tuple], nprobe: int
) -> dict[int, list[int]]:
    """Per-query probe cells, computed driver-side from the collected
    query/centroid vectors: top-``nprobe`` centroid cosines, ties to
    the lowest cell_id (same rule as the oracle's ORDER BY)."""
    probe: dict[int, list[int]] = {}
    for qid, qv, qn in queries:
        sims = sorted(
            ((_qdot(qv, cv) / (qn * cn), -cid) for cid, cv, cn in cents),
            reverse=True,
        )
        probe[qid] = [-ncid for _, ncid in sims[:nprobe]]
    return probe


def _np_band_keys_fn():
    """Factory for the vectorized hyperplane band-key packer: one GEMM
    against the plane matrix, sign bits packed per band — the numpy
    twin of ``_lsh_bands``'s Catalyst fold (same planes, same ``>= 0``
    sign rule, same bit weights; identical keys modulo the documented
    last-ulp summation-order caveat at an exact-zero dot).

    A FACTORY, not a module-level function, on purpose: the scorer
    closure ships to Python workers via cloudpickle, which serializes
    references to module-level functions BY REFERENCE (an import on
    the worker) — and the driver contract runs these closures on
    workers that do not have this package on their PYTHONPATH. A
    dynamically-created function pickles by value, like the rest of
    the closure (caught by the driver-style verify run, not pytest,
    whose cwd makes the package importable)."""

    def nk(m, planes):
        import numpy as np

        per_band = LSH_PLANES // LSH_BANDS
        bits = (m @ planes.T) >= 0
        w = 1 << np.arange(per_band, dtype=np.int64)
        return (
            (bits.reshape(len(m), LSH_BANDS, per_band) * w)
            .sum(axis=2)
            .astype(np.int64)
        )

    return nk


def _masked_partial_topk(qmat: list[tuple], mode: str = "cells", planes=None):
    """THE mapInPandas scorer behind every top-k entry — one body so
    the ranking contract (round(cosine, 6) BEFORE ranking to mirror
    the oracles, vec_id tiebreak, self-exclusion, per-batch top-k)
    lives in exactly one place. Each Arrow batch GEMMs its vectors
    against the query matrix, applies the mode's candidate mask per
    query, and emits only its per-batch top-k; the global window ranks
    ~batches·|Q|·k tiny rows.

    ``mode`` selects how ``qmat[i][3]`` masks candidates:

    - ``"cells"``: probe CELL sets (or None = unmasked brute scan);
      the batch's optional ``cell_id`` column is tested with a
      vectorized ``np.isin``. Used by the brute, inline-IVF, and
      IVF-index entries.
    - ``"band_keys"``: full per-row LSH key arrays in a ``keys``
      column; candidate matches query q iff any band position agrees.
      Used by the inline LSH entry (rows are whole vectors — unique
      per batch). With ``planes`` set (the production
      ``reproducible=False`` knob) the key arrays are instead computed
      INSIDE the batch by ``_np_band_keys`` — one extra 16-plane GEMM
      per batch replaces 16 interpreted Catalyst dots per row, and no
      ``keys`` column is needed in the input.
    - ``"bucket_rows"``: persisted-LSH-index rows are ONE (band, key)
      bucket membership each; candidate matches iff q's key at the
      row's band equals the row's key. A vector co-bucketed with q in
      several bands has SEVERAL rows that one task may batch together,
      so candidates are deduplicated by vec_id BEFORE the top-k
      truncation (their rounded cosines are identical — same vector)
      — otherwise duplicate rows eat top-k slots and can evict a
      distinct true winner (regression-tested in
      ``test_bucket_row_scorer_dedups_within_batch``).
    """
    if mode not in ("cells", "band_keys", "bucket_rows"):
        raise ValueError(f"unknown scorer mode: {mode}")
    np_band_keys = _np_band_keys_fn() if planes is not None else None

    def _score(batches):
        import numpy as np
        import pandas as pd

        qm = np.array([q[1] for q in qmat], dtype=np.float64)
        qn = np.array([q[2] for q in qmat], dtype=np.float64)
        if mode == "cells":
            # probe sets as sorted int arrays so the per-batch
            # membership test is a vectorized np.isin, not a Python
            # loop — the indexed path feeds millions of rows through
            probe_arrs = [
                None
                if q[3] is None
                else np.array(sorted(q[3]), dtype=np.int64)
                for q in qmat
            ]
        else:
            qkeys = np.array([q[3] for q in qmat], dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            m = np.stack(pdf["v"].to_numpy())
            nrm = pdf["norm"].to_numpy()
            if mode == "cells":
                cells = (
                    pdf["cell_id"].to_numpy()
                    if "cell_id" in pdf.columns
                    else None
                )
            elif mode == "band_keys":
                keys = (
                    np_band_keys(m, planes)
                    if planes is not None
                    else np.stack(pdf["keys"].to_numpy()).astype(np.int64)
                )
            else:
                bands = pdf["band"].to_numpy().astype(np.int64)
                key = pdf["key"].to_numpy().astype(np.int64)
            sims = np.round((m @ qm.T) / (nrm[:, None] * qn[None, :]), 6)
            out = {"query_id": [], "vec_id": [], "cosine": []}
            for j, (qid, _, _, _probes) in enumerate(qmat):
                mask = ids != qid
                if mode == "cells":
                    if probe_arrs[j] is not None:
                        mask &= np.isin(cells, probe_arrs[j])
                elif mode == "band_keys":
                    mask &= (keys == qkeys[j][None, :]).any(axis=1)
                else:
                    mask &= qkeys[j][bands] == key
                if not mask.any():
                    continue
                cand_ids, cand_sims = ids[mask], sims[mask, j]
                if mode == "bucket_rows":
                    cand_ids, first = np.unique(cand_ids, return_index=True)
                    cand_sims = cand_sims[first]
                order = np.lexsort((cand_ids, -cand_sims))[:TOP_K]
                out["query_id"].extend([qid] * len(order))
                out["vec_id"].extend(cand_ids[order])
                out["cosine"].extend(cand_sims[order])
            yield pd.DataFrame(out)

    return _score


def _rank_topk(partial: DataFrame) -> DataFrame:
    """Global top-k over the union of per-batch partial top-ks. Valid
    because batch and global selection share one total order
    (round(cosine, 6) DESC, vec_id ASC): every global winner wins its
    own batch."""
    from pyspark.sql import Window as W

    ranked = partial.withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), F.col("vec_id")
            )
        ),
    ).filter(F.col("rank") <= TOP_K)
    return ranked.select("query_id", "rank", "vec_id", "cosine")


def ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: coarse-quantize into inverted lists, probe a few cells.

    The coarse centroids are the first ``IVF_CELLS`` non-query vectors —
    a deterministic, data-defined rule rather than k-means, which makes
    the whole index SQL-expressible: unlike the LSH variant this entry
    is *oracle-checked*, DuckDB rebuilding the identical inverted lists.

    Plan shape (the one that holds at 10M+ vectors — a 10M-row probe
    went 484 s -> 17 s restructuring to this). One measured caveat
    (round 5, `probes/probe_ann_10m.py`): evaluating the 16
    literal-centroid cosines per row in step 2 is interpreted
    higher-order-expression work that costs MORE than the BLAS GEMM it
    prunes — 40.6 s vs the rewritten brute scan's 8.8 s at 10M on an
    isotropic corpus. IVF's economics require the assignment to be
    amortized: compute cell_id once at ingest and store it with the
    table (the standard IVF deployment), after which scoring probes
    ~nprobe/cells of the corpus and the brute scan cannot compete.
    This entry keeps assignment inline because the driver tables carry
    no precomputed cell column; ``build_ivf_index`` +
    ``ann_cosine_topk_ivf_indexed`` below are the amortized deployment:

    1. centroids + query vectors are COLLECTED to the driver (16 + 10
       rows — in a real deployment the IVF index's k-means centroids
       are driver-resident anyway) and embedded as literals;
    2. cell assignment is an inline argmax over the 16 literal-centroid
       cosines — one projection, NO join, NO per-vector window, nothing
       shuffles the vector column (the previous broadcast-join + window
       plan shuffled |cells|·N rows each carrying two 64-d arrays);
    3. scoring+pruning is ``mapInPandas``: each Arrow batch GEMMs its
       vectors against the query matrix, masks cells outside each
       query's probe list, and emits only its per-batch top-k — a
       partial top-k, so the global window ranks ~batches·|Q|·k tiny
       rows instead of every candidate.

    Ranking uses round(cosine, 6) in BOTH engines (like the LSH entry)
    so BLAS summation order cannot reorder near-ties.
    """
    emb = _emb(spark, sf_dir, scorable=True).withColumn("norm", _norm(F.col("v")))
    # driver-resident index metadata: 16 centroids + 10 query vectors
    head = {
        r["vec_id"]: (list(r["v"]), r["norm"])
        for r in emb.filter(F.col("vec_id") < N_QUERIES + IVF_CELLS).collect()
    }
    cents = [(cid, *head[cid]) for cid in range(N_QUERIES, N_QUERIES + IVF_CELLS)]
    queries = [(qid, *head[qid]) for qid in range(N_QUERIES)]

    # inline argmax via array_max over (sim, -cell_id) structs — linear
    # expression size (a nested when/otherwise chain embeds the partial
    # result twice per level: exponential tree, hangs plan build).
    # Struct comparison is lexicographic, so max picks the highest sim
    # and, on exact ties, the highest -cell_id = LOWEST cell_id — the
    # same rule as ORDER BY csim DESC, cell_id in the oracle.
    #
    # The centroid matrix rides in as ONE nested-array Literal (not
    # |cells|·dim CreateArray/Literal nodes): unrolling the 16 cosines
    # with per-element literals cost ~1.5 s of Catalyst analysis per
    # invocation — this shape plans in <0.1 s. The per-centroid dot is
    # still the same left-to-right aggregate fold, so assignments stay
    # bit-identical to the oracle's sequential list_dot_product.
    centv = F.lit([cv for _, cv, _ in cents])
    centn = F.lit([cn for _, _, cn in cents])
    centnc = F.lit([-cid for cid, _, _ in cents])
    best = F.array_max(
        F.transform(
            F.sequence(F.lit(1), F.lit(len(cents))),
            lambda i: F.struct(
                (
                    _dot(F.col("v"), F.element_at(centv, i))
                    / (F.col("norm") * F.element_at(centn, i))
                ).alias("s"),
                F.element_at(centnc, i).alias("nc"),
            ),
        )
    )
    assign = emb.select(
        "vec_id", "v", "norm", (-best["nc"]).alias("cell_id")
    )

    probe_cells = _probe_sets(queries, cents, IVF_NPROBE)
    qmat = [(qid, qv, qn, set(probe_cells[qid])) for qid, qv, qn in queries]
    partial = assign.mapInPandas(
        _masked_partial_topk(qmat), "query_id long, vec_id long, cosine double"
    )
    return _rank_topk(partial)


ANN_COSINE_TOPK_IVF_SQL = f"""
WITH e AS (
    -- NULL embeddings are not points; zero-norm vectors have no
    -- cosine — both excluded from search, mirroring _emb(scorable)
    SELECT * FROM (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
        FROM embeddings WHERE embedding IS NOT NULL
    ) WHERE nrm > 0
),
c AS (
    SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e
    WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + IVF_CELLS}
),
scored AS (
    SELECT e.vec_id, e.v, e.nrm, c.cell_id,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC,
                        c.cell_id) AS r
    FROM e, c
),
a AS (SELECT vec_id, v, nrm, cell_id FROM scored WHERE r = 1),
p AS (
    SELECT vec_id AS query_id, v AS qv, nrm AS qn, cell_id
    FROM scored WHERE vec_id < {N_QUERIES} AND r <= {IVF_NPROBE}
),
cand AS (
    -- rank on ROUND(cosine, 6), matching the Spark side, so BLAS vs
    -- sequential float summation order cannot reorder near-ties
    SELECT p.query_id, a.vec_id,
           ROUND(list_dot_product(a.v, p.qv) / (a.nrm * p.qn), 6) AS cosine
    FROM a JOIN p ON a.cell_id = p.cell_id AND a.vec_id != p.query_id
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
    FROM cand
)
SELECT query_id, rank, vec_id, cosine
FROM r WHERE rank <= {TOP_K}
"""


def _assign_cells(emb: DataFrame, cents: list[tuple]) -> DataFrame:
    """(vec_id, v, norm) + centroid tuples -> the same rows with their
    coarse cell_id: one BLAS GEMM per Arrow batch (m @ centroids.T,
    argmax; FIRST max = lowest cell_id on exact ties, the inline/
    oracle rule). Shared by the index builder and the diff-maintenance
    apply so ingest-time and maintenance-time assignment cannot
    drift."""

    def _assign(batches):
        import numpy as np
        import pandas as pd

        cid = np.array([c[0] for c in cents], dtype=np.int64)
        cm = np.array([c[1] for c in cents], dtype=np.float64)
        cn = np.array([c[2] for c in cents], dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["v"].to_numpy())
            nrm = pdf["norm"].to_numpy()
            sims = (m @ cm.T) / (nrm[:, None] * cn[None, :])
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "v": pdf["v"],
                    "norm": nrm,
                    "cell_id": cid[np.argmax(sims, axis=1)],
                }
            )

    return emb.mapInPandas(
        _assign, "vec_id long, v array<double>, norm double, cell_id long"
    )


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    cells: int = IVF_CELLS,
    centroids: str = "head",
    kmeans_iters: int = 5,
) -> None:
    """Ingest-time IVF index: assign every vector to its coarse cell
    ONCE and persist (vec_id, v, norm, cell_id) parquet partitioned by
    cell_id — the amortized deployment the inline entry's probe numbers
    call for (assignment re-done per query costs more than the GEMM it
    prunes; see ``ann_cosine_topk_ivf``).

    ``centroids`` selects the coarse quantizer:

    - ``"head"``: the deterministic first-``cells``-vectors rule the
      inline oracle-checked entry uses — cells are whatever the data's
      head happened to be, so cell populations are as balanced as the
      corpus is isotropic, and recall at small nprobe suffers when it
      isn't (recall@5 0.76 at nprobe 4/16 on the 10M isotropic probe).
    - ``"kmeans"``: the PRODUCTION path — ``kmeans_fit`` Lloyd's
      centroids (k=cells, ``kmeans_iters`` scan-bound iterations, no
      RNG, see its docstring), which place cells where the density is
      and are what IVF means in a real deployment (IVFADC of Jégou
      et al., "Product quantization for nearest neighbor search",
      TPAMI 2011, uses exactly a k-means coarse quantizer).

    Either way the chosen centroids are PERSISTED with the index under
    ``{index_dir}/_centroids`` (underscore-prefixed, so a plain
    ``spark.read.parquet(index_dir)`` of the data never sees it) and
    the query path reads them back — index and query can no longer
    disagree about the quantizer, and a kmeans index needs no re-fit
    at query time.

    Assignment here is a BLAS GEMM over Arrow batches (m @ centroids.T,
    argmax), not the inline interpreted-expression argmax — at ingest
    the 256-cell case is a matmul, not 256 interpreted dots per row.
    ``np.argmax`` returns the FIRST maximum = lowest cell_id on exact
    ties, the same rule as the inline entry and the oracle. Writing
    ``partitionBy("cell_id")`` turns every query's probe list into
    partition pruning: a reader filtering on cell_id never opens the
    other cells' files. At 100 TB the same layout holds — cells become
    directories across the cluster store, and adding vectors is an
    append to their cell partitions.
    """
    emb = _emb(spark, sf_dir, scorable=True).withColumn("norm", _norm(F.col("v")))
    # sorted (cell_id, vector, norm): "head" cell ids are the chosen
    # vec_ids, "kmeans" ones 0..cells-1
    if centroids == "head":
        cent_rows = emb.filter(
            (F.col("vec_id") >= N_QUERIES)
            & (F.col("vec_id") < N_QUERIES + cells)
        ).collect()
        cents = sorted((r["vec_id"], list(r["v"]), r["norm"]) for r in cent_rows)
    elif centroids == "kmeans":
        cmat, _inertia = kmeans_fit(spark, sf_dir, k=cells, iters=kmeans_iters)
        cents = [
            (cid, cv, math.sqrt(sum(x * x for x in cv)))
            for cid, cv in enumerate(cmat)
        ]
    else:
        raise ValueError(f"unknown centroids mode: {centroids!r}")
    assigned = _assign_cells(emb, cents)
    assigned.write.mode("overwrite").partitionBy("cell_id").parquet(index_dir)
    # AFTER the data write: overwriting index_dir would wipe a
    # previously-written sidecar (underscore prefix keeps it invisible
    # to plain reads of the data directory)
    # literal inline table, NOT createDataFrame: the Python-list path
    # round-trips a worker per write (measured 4-9 s for these 16 rows
    # at local[32], round 15) where the JVM literal writes in ~0.2 s
    _literal_cols_df(
        spark,
        {
            "cell_id": [cid for cid, _, _ in cents],
            "cv": [cv for _, cv, _ in cents],
            "cn": [cn for _, _, cn in cents],
        },
        "cell_id long, cv array<double>, cn double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/_centroids")


def ann_cosine_topk_ivf_indexed(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """IVF ANN over a ``build_ivf_index`` output: read ONLY the probed
    cells (partition pruning — the scan's PartitionFilters carry the
    cell_id IN (...) predicate, pinned in tests), then the same masked
    per-batch partial top-k as the inline entry. Not registered with
    the driver (needs a side index and the 50-entry cap is full); the
    pytest asserts exact agreement with ``ann_cosine_topk_ivf`` plus
    the pruned scan. Queries are re-collected from the base table;
    CENTROIDS come from the index's persisted ``_centroids`` table
    (written by ``build_ivf_index`` for both the head rule and the
    kmeans production path), so index and query always probe the same
    quantizer and a kmeans index needs no re-fit at query time.

    A last-ulp caveat, accepted by design: ingest assignment sums dot
    products in BLAS order while the inline entry's Catalyst expression
    sums sequentially, so a vector *exactly* equidistant between
    centroids at double precision could land in different cells. No
    fixture or probe corpus exhibits one; the agreement test would
    surface it.
    """
    from concurrent.futures import ThreadPoolExecutor

    emb = _emb(spark, sf_dir, scorable=True).withColumn("norm", _norm(F.col("v")))
    # the query-row collect and the centroid-sidecar read are
    # independent driver-side jobs — run them from two driver threads
    # (guide §2.6 overlap) instead of serializing two small collects
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_q = pool.submit(
            lambda: [
                (r["vec_id"], list(r["v"]), r["norm"])
                for r in emb.filter(F.col("vec_id") < N_QUERIES).collect()
            ]
        )
        f_c = pool.submit(_read_centroids, spark, index_dir)
        queries = f_q.result()
        cents = f_c.result()
    probe_cells = _probe_sets(queries, cents, nprobe)
    qmat = [(qid, qv, qn, set(probe_cells[qid])) for qid, qv, qn in queries]

    needed = sorted({c for cs in probe_cells.values() for c in cs})
    idx = (
        spark.read.parquet(index_dir)
        .filter(F.col("cell_id").isin(needed))
        .select("vec_id", "cell_id", "v", "norm")
    )
    partial = idx.mapInPandas(
        _masked_partial_topk(qmat), "query_id long, vec_id long, cosine double"
    )
    return _rank_topk(partial)


def ann_cosine_topk_ivf_via_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered entry for the persisted-index IVF path (round-15
    rotation: registered as ``ann_cosine_topk_ivf_indexed``, slot freed
    by the ann_cosine_topk_suite fold — COVERAGE.md). Builds the
    cell_id-partitioned index from the sf_dir embeddings into a
    per-process scratch dir, then answers the standard query THROUGH
    the index, so the driver's DuckDB compare gates the whole
    deployment path — head-rule quantizer persistence, partitionBy
    write, probed-cell partition pruning, masked partial top-k —
    against the INLINE entry's oracle (``ANN_COSINE_TOPK_IVF_SQL``):
    the exact indexed-equals-inline claim, previously pytest-only
    (test_similarity), now under the driver's own hash. Like
    ``text_bm25_topk_via_index``, the registered call includes the
    build (the honest self-contained shape); the scratch dir is fixed
    per (process, sf) and rebuilt with overwrite, so repeated bench
    reps don't accumulate directories. Centroids stay the inline
    entry's deterministic head rule — the one the SQL oracle rebuilds;
    the kmeans production quantizer has no closed-form SQL and keeps
    its pytest gates."""
    import os
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    idx = os.path.join(
        tempfile.gettempdir(), f"ivf_index_{tag}_{os.getpid()}"
    )
    build_ivf_index(spark, sf_dir, idx)
    return ann_cosine_topk_ivf_indexed(spark, sf_dir, idx)


def _read_centroids(spark: SparkSession, index_dir: str) -> list[tuple]:
    return sorted(
        (r.cell_id, list(r.cv), r.cn)
        for r in spark.read.parquet(f"{index_dir}/_centroids").collect()
    )


def ann_cosine_topk_lsh(
    spark: SparkSession, sf_dir: str, reproducible: bool = True
) -> DataFrame:
    """LSH ANN top-k: hyperplane band buckets as a candidate MASK
    inside the shared mapInPandas GEMM scorer, not a join.

    The previous formulation exploded each vector into its 8 band rows
    and broadcast-joined the query buckets, then deduplicated
    multi-band hits — an Exchange carrying (v, norm, qv, qnorm) array
    payloads per candidate (30.2 GB measured at 10M×64-d) followed by
    an interpreted Catalyst dot per candidate (the 297 s probe wall).
    This version never explodes and never joins: each row keeps its 8
    Catalyst-computed band keys (the same sequential-fold expression
    the DuckDB oracle rebuilds, so bucket membership stays
    bit-identical), and each Arrow batch GEMMs ALL its vectors against
    the query matrix, applies the band-match mask per query, and emits
    only its per-batch top-k — identical candidate set, identical
    ranking contract, but the post-scoring exchange carries
    ≤ batches·|Q|·k tiny rows like the brute/IVF entries.

    Note the honest trade: the GEMM scores every (row, query) pair
    before masking, so LSH no longer saves compute here — at |Q|=10 a
    64-d GEMM is cheaper than evaluating the mask's would-be savings.
    What the bands still buy is the *candidate semantics* (this entry
    returns bucket-pruned results, oracle-checked) and the index
    pattern: with a persisted band→vec layout (cf. ``build_ivf_index``)
    a selective query reads only its buckets. For full-scan top-k at
    scale, ``ann_cosine_topk`` is the model plan.

    ``reproducible=True`` (the registered entry) computes each row's 8
    band keys as Catalyst fold expressions so the DuckDB oracle can
    rebuild bucket membership bit-for-bit — 16 interpreted hyperplane
    dots per row, the entry's residual cost (97.8 s vs the brute
    scan's 8.8 s at 10M). ``reproducible=False`` is the production
    knob (the ``dedup_simhash`` precedent): the plane matrix rides
    into the scorer closure and every batch computes its keys with one
    extra BLAS GEMM (``_np_band_keys``) — no Catalyst band math, no
    ``keys`` column. Same sign rule on the same plane literals, so
    keys are identical except at an exact-zero dot (last-ulp
    summation-order caveat, as the IVF index documents); pytest pins
    knob == default on the fixture corpora.
    """
    emb = _emb(spark, sf_dir, scorable=True).withColumn("norm", _norm(F.col("v")))
    if reproducible:
        keyed = emb.withColumn(
            "keys", F.transform(_lsh_bands(F.col("v")), lambda bk: bk["key"])
        )
        qmat = [
            (r["vec_id"], list(r["v"]), r["norm"], list(r["keys"]))
            for r in keyed.filter(F.col("vec_id") < N_QUERIES).collect()
        ]
        scorer = _masked_partial_topk(qmat, mode="band_keys")
    else:
        import numpy as np

        planes = np.array(_hyperplanes(), dtype=np.float64)
        qrows = emb.filter(F.col("vec_id") < N_QUERIES).collect()
        qm = np.array([list(r["v"]) for r in qrows], dtype=np.float64)
        qkeys = _np_band_keys_fn()(qm, planes)
        qmat = [
            (r["vec_id"], list(r["v"]), r["norm"], [int(x) for x in qkeys[i]])
            for i, r in enumerate(qrows)
        ]
        keyed = emb
        scorer = _masked_partial_topk(qmat, mode="band_keys", planes=planes)
    partial = keyed.mapInPandas(
        scorer, "query_id long, vec_id long, cosine double"
    )
    return _rank_topk(partial)


def _ann_cosine_topk_lsh_sql() -> str:
    return f"""
WITH {_banded_sql()},
cand AS (
    SELECT DISTINCT q.vec_id AS query_id, a.vec_id
    FROM banded a JOIN banded q
      ON a.band = q.band AND a.key = q.key
     AND q.vec_id < {N_QUERIES} AND a.vec_id != q.vec_id
),
scored AS (
    SELECT c.query_id, c.vec_id,
           ROUND(list_dot_product(ea.v, eq.v) / (ea.nrm * eq.nrm), 6) AS cosine
    FROM cand c
    JOIN e ea ON c.vec_id = ea.vec_id
    JOIN e eq ON c.query_id = eq.vec_id
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
    FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM r WHERE rank <= {TOP_K}
"""


ANN_COSINE_TOPK_LSH_SQL = _ann_cosine_topk_lsh_sql()


# --- k-means over the embedding column ---------------------------------------
KMEANS_K = 8
KMEANS_ITERS = 5


def kmeans_fit(
    spark: SparkSession, sf_dir: str, k: int = KMEANS_K, iters: int = KMEANS_ITERS
) -> tuple[list[list[float]], list[float]]:
    """Distributed Lloyd's k-means — the canonical iterative algorithm
    done Spark-first: per iteration the k×d centroid matrix rides into
    a ``mapInPandas`` closure (driver-resident literals, the IVF
    pattern), each Arrow batch GEMMs its rows against the centroids
    and the PARTITION accumulates them into k partial rows (cluster,
    count, Σx, Σ‖x−c‖²) emitted once at partition end; the
    ≤ partitions·k partials reduce on the driver. Per iteration the
    data is SCANNED once and never shuffled — the only cross-node
    traffic is k·d floats down and partitions·k·d partials up, so
    iteration cost is scan-bound at any corpus size. (Per-BATCH
    partials were the round-9 10M × k=4096 failure: ~1000 Arrow
    batches × 4 MB of partials overflowed
    ``spark.driver.maxResultSize`` — partition-level accumulation is
    what keeps the driver leg flat as rows grow.)

    Determinism: init is the first k vectors by vec_id (the IVF
    centroid rule), assignment ties break to the lowest cluster id
    (``np.argmin`` first-minimum), and an emptied cluster keeps its
    previous centroid. No RNG anywhere — two runs, any partitioning,
    same model (pinned in tests against a pure-numpy replica).

    Returns (centroids k×d, inertia per iteration — Σ of squared
    distances to each point's assigned centroid at that iteration's
    START, so the list is non-increasing).
    """
    import numpy as np

    if iters < 1 or k < 1:
        raise ValueError("kmeans_fit: need k >= 1 and iters >= 1")
    emb = _emb(spark, sf_dir)
    # first k rows ORDERED by vec_id (ids need not be dense from 0;
    # a vec_id < k filter under-collects on sparse ids and over-collects
    # on duplicates, corrupting the fixed-size driver merge)
    init_rows = emb.orderBy("vec_id").limit(k).collect()
    if len(init_rows) < k:
        raise ValueError(f"kmeans_fit: need {k} seed vectors, got {len(init_rows)}")
    cents = np.array([list(r["v"]) for r in init_rows], dtype=np.float64)
    inertia: list[float] = []
    # the partials need only the vector column — vec_id would otherwise
    # ride the Arrow boundary into every iteration's Python workers for
    # nothing (guide: pass only the columns the function needs)
    emb_v = emb.select("v")
    for _ in range(iters):
        c = cents  # bind the CURRENT iteration's matrix into the closure

        def _partials(batches, c=c):
            import numpy as np
            import pandas as pd

            kk, _ = c.shape
            c_sq = (c * c).sum(axis=1)
            # accumulate across the partition's batches and emit ONE
            # k-row partial per PARTITION: a per-batch yield ships
            # batches·k·d floats to the driver, which at 10M rows ×
            # k=4096 exceeded spark.driver.maxResultSize (>1 GiB of
            # partials — the round-9 probe failure); per-partition
            # accumulation bounds driver traffic at partitions·k·d
            cnt = np.zeros(kk, dtype=np.int64)
            sums = np.zeros_like(c)
            err = np.zeros(kk, dtype=np.float64)
            seen = False
            for pdf in batches:
                if not len(pdf):
                    continue
                seen = True
                m = np.stack(pdf["v"].to_numpy())
                # argmin ||x-c||^2 = argmin (||c||^2 - 2 x.c): skip ||x||^2
                d2 = c_sq[None, :] - 2.0 * (m @ c.T)
                a = np.argmin(d2, axis=1)
                full = d2[np.arange(len(m)), a] + (m * m).sum(axis=1)
                cnt += np.bincount(a, minlength=kk)
                np.add.at(sums, a, m)
                err += np.bincount(a, weights=full, minlength=kk)
            if seen:
                yield pd.DataFrame(
                    {
                        "cid": np.arange(kk),
                        "n": cnt,
                        "s": list(sums),
                        "err": err,
                    }
                )

        parts = emb_v.mapInPandas(
            _partials, "cid long, n long, s array<double>, err double"
        ).collect()
        n = np.zeros(k)
        s = np.zeros_like(cents)
        err = 0.0
        for p in parts:
            n[p["cid"]] += p["n"]
            s[p["cid"]] += np.asarray(p["s"])
            err += p["err"]
        inertia.append(float(err))
        nonempty = n > 0
        new_cents = np.where(
            nonempty[:, None], s / np.maximum(n, 1)[:, None], cents
        )
        if np.array_equal(new_cents, cents):
            # exact fixed point: every remaining iteration would see the
            # same centroids over the same data, so it would reproduce
            # this iteration's partials — same inertia value, same
            # (unchanged) centroids. Fill the inertia tail and skip the
            # redundant scans; returns are BITWISE identical to running
            # them. (The sf fixtures never converge exactly within the
            # default 5 iterations — measured round 16 — so this is a
            # scale/real-data shortcut, not a bench lever.)
            inertia.extend([inertia[-1]] * (iters - len(inertia)))
            cents = new_cents
            break
        cents = new_cents
    return [[float(x) for x in row] for row in cents], inertia


# --- SemDeDup: semantic deduplication over k-means cells ---------------------
SEMDEDUP_EPS = 0.95


def semantic_dedup(
    spark: SparkSession,
    sf_dir: str,
    k: int | None = KMEANS_K,
    iters: int = KMEANS_ITERS,
    eps: float = SEMDEDUP_EPS,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    within each cell drop every example whose cosine to a PRIOR
    example (cell scan order: distance-to-centroid DESC, vec_id ASC —
    the paper's "keep the most atypical" rule made deterministic)
    meets ``eps``. Unlike a connected-components clustering,
    duplicates are defined per-cell with the paper's upper-triangular
    rule — no iterative closure, one pass.

    Shape: ``kmeans_fit`` (scan-bound, zero shuffle) + ONE Exchange
    keyed on the assigned cell + a per-cell masked GEMM in
    ``applyInPandas``. The within-cell cost is O(|cell|²) by design —
    the paper's own algorithm — so at scale ``k`` is chosen ~N/target
    (50k cells for 100M points keeps cells ~2k rows, a 2k×2k GEMM per
    task); the plan shape is k-independent. Assignment happens INSIDE
    the same closure chain (cell id never round-trips to the driver);
    only (vec_id, cell, flags) leave Python.

    The default ``k`` (``KMEANS_K`` = 8) is FIXTURE-SCALE: per-cell
    cost is O(|cell|²), so above ~100k vectors pass an explicit ``k``
    or ``k=None`` to derive ``k ≈ N/2048`` (cells ~2k rows — the
    regime the 10M probe validates with ``--cells 4096``).

    Zero-norm embeddings are defined as cosine 0 to everything (the
    norm is clamped at 1e-12), so one degenerate vector can neither be
    "a duplicate of" nor poison ``max_prior_cos`` for later rows in
    its cell (the NaN it used to inject silently dropped the whole
    tail of the cell — round-8 advisory fix, pinned by
    ``test_semdedup_zero_norm_vector``).

    Output: (vec_id, cell_id, sq_dist, max_prior_cos, keep) for every
    embedding; ``max_prior_cos`` is -1.0 for the first/only row of a
    cell; sq_dist/max_prior_cos rounded to 6. Gate: pure-numpy
    end-to-end replica + planted-duplicate fixture (iterative k-means
    is not SQL-expressible — the documented weaker gate, like
    ``kmeans_fit``)."""
    import numpy as np

    if not (0.0 < eps <= 1.0):
        raise ValueError(f"semantic_dedup: eps in (0, 1], got {eps}")
    if k is None:
        n_vec = _emb(spark, sf_dir).count()  # parquet metadata count
        k = max(KMEANS_K, n_vec // 2048)
    cents, _ = kmeans_fit(spark, sf_dir, k, iters)
    c = np.array(cents, dtype=np.float64)

    def _make_assign(c=c):
        def _assign(batches):
            import numpy as np
            import pandas as pd

            c_sq = (c * c).sum(axis=1)
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.stack(pdf["v"].to_numpy())
                d2 = c_sq[None, :] - 2.0 * (m @ c.T)
                a = np.argmin(d2, axis=1)
                full = d2[np.arange(len(m)), a] + (m * m).sum(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"],
                        "cell_id": a,
                        "sq_dist": np.maximum(full, 0.0),
                        "v": pdf["v"],
                    }
                )

        return _assign

    def _cell_dedup(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        d2 = pdf["sq_dist"].to_numpy()
        # scan order: most atypical first, ties to the lowest vec_id
        order = np.lexsort((ids, -d2))
        ids, d2 = ids[order], d2[order]
        m = np.stack(pdf["v"].to_numpy())[order]
        # zero-norm guard: clamp so a degenerate vector is cosine 0 to
        # everything instead of NaN-poisoning the cell tail
        nrm = np.maximum(np.sqrt((m * m).sum(axis=1)), 1e-12)
        mn = m / nrm[:, None]
        n = len(ids)
        prior = np.full(n, -1.0)
        # blockwise strict-lower-triangle running max: peak extra
        # memory is one B×n GEMM block (+ its bool mask) instead of
        # three n×n temporaries — the cell-size bound is arithmetic
        # (GEMM flops), not memory
        B = 1024
        for i0 in range(1, n, B):
            i1 = min(i0 + B, n)
            blk = mn[i0:i1] @ mn[:i1].T
            # mask out cosine-to-self and to LATER rows in scan order
            cols = np.arange(i1)[None, :]
            blk[cols >= np.arange(i0, i1)[:, None]] = -np.inf
            prior[i0:i1] = blk.max(axis=1)
        prior_r = np.round(prior, 6)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell_id": pdf["cell_id"].iloc[0],
                "sq_dist": np.round(d2, 6),
                "max_prior_cos": prior_r,
                "keep": prior_r < eps,
            }
        )

    assigned = _emb(spark, sf_dir).mapInPandas(
        _make_assign(),
        "vec_id long, cell_id long, sq_dist double, v array<double>",
    )
    return assigned.groupBy("cell_id").applyInPandas(
        _cell_dedup,
        "vec_id long, cell_id long, sq_dist double, "
        "max_prior_cos double, keep boolean",
    )


# --- int8 scalar quantization (SQ8): encode + rescored ANN --------------------
# The storage-scale quantizer between full floats and PQ: per-DIMENSION
# trained (vmin, vmax), each coordinate rounds to one of 256 levels —
# 64 bytes/vector instead of 256 (fp32) with far less distortion than
# PQ's 8 bytes. Faiss's ScalarQuantizer(QT_8bit) trains exactly this
# min/max-per-dim model. Unlike PQ (per-subspace argmin -> Python),
# SQ8 ENCODING is pure arithmetic, so it runs as a codegen'd Catalyst
# expression — the quantizer is an exact, oracle-checkable operator;
# only the scoring GEMM is Arrow-batched Python. Search is the classic
# two-stage serving pipeline: scan the compressed codes for approximate
# top-C, then rescore JUST those C·|Q| candidates against the exact
# floats fetched via a pushed-down point-lookup filter, and re-rank.
SQ8_LEVELS = 255  # codes 0..255 -> 255 intervals
SQ8_RESCORE_C = 4 * TOP_K


def sq8_fit(spark: SparkSession, sf_dir: str) -> tuple[list[float], list[float]]:
    """Train the quantizer: per-dimension (vmin, vmax) in ONE scan —
    posexplode to (dim, value) rows and a DIM-key min/max aggregate
    (map-side partials: DIM rows per task cross the exchange). Min/max
    over doubles is exact (no summation-order float drift), so the
    trained model is bit-identical to any oracle recomputation.

    (Round 15: this REPLACES a single 2·DIM-column aggregate — 128
    aggregate buffers is past the whole-stage-codegen field limit, so
    that shape ran interpreted and measured ~0.6-1.0 s at sf0.1 vs
    ~0.21 s for the exploded form, exact-equal outputs. The JVM
    posexplode is not the per-byte synthesis explode the multimodal
    docstrings warn about.)"""
    rows = (
        _emb(spark, sf_dir)
        .select(F.posexplode("v").alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .collect()
    )
    # .get: an empty/all-NULL corpus yields no (d, x) rows where the
    # old single-row aggregate yielded NULLs — keep that surface
    mm = {r["d"]: (r["lo"], r["hi"]) for r in rows}
    return (
        [mm.get(d, (None, None))[0] for d in range(DIM)],
        [mm.get(d, (None, None))[1] for d in range(DIM)],
    )


def _sq8_code_expr(vmin: list[float], vmax: list[float]) -> Column:
    """codes[d] = clamp(floor((v[d]-lo)·255/(hi-lo) + 0.5), 0, 255) as a
    Catalyst expression over the embedding array — floor(x+0.5) instead
    of round() so Spark and DuckDB agree bit-for-bit on ties, clamping
    AFTER the floor in both engines. A constant dimension (hi == lo)
    encodes as 0 and reconstructs to lo exactly. The (lo, hi) vectors
    ride as single array Literals (one Py4J call each), not
    per-element ``F.lit`` trees — same constant-folded element values,
    ~130 fewer driver round trips per invocation (round 15)."""
    lo = F.lit([float(x) for x in vmin])
    hi = F.lit([float(x) for x in vmax])

    def code(x, d):
        lo_d, hi_d = F.get(lo, d), F.get(hi, d)
        raw = F.floor((x - lo_d) * SQ8_LEVELS / (hi_d - lo_d) + F.lit(0.5))
        return (
            F.when(hi_d == lo_d, F.lit(0).cast("double"))
            .otherwise(F.least(F.lit(255.0), F.greatest(F.lit(0.0), raw)))
            .cast("int")
        )

    return F.transform(F.col("v"), code)


def _sq8_search(
    spark: SparkSession,
    sf_dir: str,
    codes_df: DataFrame,
    vmin: list[float],
    vmax: list[float],
    rescore_c: int,
    qrows: list | None = None,
) -> DataFrame:
    """Shared SQ8 two-stage scorer. Stage 1 scans ONLY the codes:
    each Arrow batch reconstructs v̂ = lo + codes·(hi-lo)/255 with one
    vectorized affine transform, GEMMs against the query matrix, and
    emits its per-batch top-C per query (the `_masked_partial_topk`
    contract: round-6, vec_id tiebreak, self-excluded); a global
    window keeps the top-C candidates. Stage 2 collects the ≤ |Q|·C
    candidate ids (tiny, driver-bounded), fetches their EXACT vectors
    through an ``isin`` filter — a pushed-down parquet point lookup,
    not a second full scan — and re-ranks on exact cosine computed
    declaratively. With perfect stage-1 recall the result EQUALS the
    brute-force top-k, and the equality is oracle-pinned at fixture
    scales; recall is what the 10M probe measures."""
    import numpy as np

    embq = _emb(spark, sf_dir, scorable=True).withColumn("norm", _norm(F.col("v")))
    if qrows is None:
        # callers that can overlap this collect with their quantizer
        # job pass ``qrows``; None keeps the self-contained behavior
        qrows = embq.filter(F.col("vec_id") < N_QUERIES).collect()
    qm = np.array([list(r["v"]) for r in qrows], dtype=np.float64)
    qn = np.array([r["norm"] for r in qrows], dtype=np.float64)
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    lo = np.array(vmin, dtype=np.float64)
    scale = (np.array(vmax, dtype=np.float64) - lo) / SQ8_LEVELS

    def _score(batches, lo=lo, scale=scale, qm=qm, qn=qn, qids=qids,
               top_c=rescore_c):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.float64)
            recon = lo[None, :] + codes * scale[None, :]
            nrm = np.sqrt((recon * recon).sum(axis=1))
            sims = np.round(
                (recon @ qm.T) / (nrm[:, None] * qn[None, :] + 1e-300), 6
            )
            out = {"query_id": [], "vec_id": [], "approx": []}
            for j, qid in enumerate(qids):
                mask = ids != qid
                cand_ids, cand_sims = ids[mask], sims[mask, j]
                order = np.lexsort((cand_ids, -cand_sims))[:top_c]
                out["query_id"].extend([qid] * len(order))
                out["vec_id"].extend(cand_ids[order])
                out["approx"].extend(cand_sims[order])
            yield pd.DataFrame(out)

    partial = codes_df.mapInPandas(
        _score, "query_id long, vec_id long, approx double"
    )
    return _exact_rescore(
        spark, sf_dir, partial, rescore_c, qrows=qrows, embq=embq
    )


def _literal_cols_df(
    spark: SparkSession, cols: dict[str, list], ddl: str
) -> DataFrame:
    """Column-oriented inline literal table — delegates to the shared
    ``operators.inline`` helper (ONE JSON-literal Py4J round trip
    however many rows; plan stays Generate over Range; dtypes from the
    DDL). A per-row struct form costs one Py4J call per VALUE —
    measured ~3 s of driver-side tree construction per invocation for
    the rescore tables (round 15)."""
    from fledge_south_csvplayback_spark.operators.inline import (
        literal_cols_df,
    )

    return literal_cols_df(spark, cols, ddl)


def _exact_rescore(
    spark: SparkSession,
    sf_dir: str,
    partial: DataFrame,
    rescore_c: int,
    qrows: list | None = None,
    embq: DataFrame | None = None,
) -> DataFrame:
    """Stage 2 of every codes-scan ANN path (SQ8 since round 9; PQ and
    IVFADC since round 11 — the ADC+R re-ranking of Jégou et al.,
    added after the clustered-recall probe showed code-only ranking
    cannot resolve within-cluster near-ties): keep the global top-C
    approximate candidates per query, fetch their EXACT vectors
    through a pushed-down ``isin`` point lookup (never a second full
    scan), and re-rank on exact cosine computed declaratively.
    ``partial`` is (query_id, vec_id, approx); everything here is
    ≤ |Q|·C-sized — driver-bounded by design.

    ``qrows``: the caller's already-collected query rows
    (vec_id, v, norm) — every codes-scan path collects them for its
    stage-1 query matrix, so re-collecting here was a duplicate
    scan+job per invocation (round-15 measurement: one extra parquet
    scan job per search call). ``None`` keeps the self-contained
    behavior."""
    from pyspark.sql import Window as W

    if embq is None:
        embq = _emb(spark, sf_dir, scorable=True).withColumn(
            "norm", _norm(F.col("v"))
        )
    if qrows is None:
        qrows = embq.filter(F.col("vec_id") < N_QUERIES).collect()
    cand = (
        partial.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(
                    F.col("approx").desc(), F.col("vec_id")
                )
            ),
        )
        .filter(F.col("rk") <= rescore_c)
        .select("query_id", "vec_id")
    )
    cand_rows = cand.collect()  # ≤ |Q|·C rows — driver-bounded by design
    ids = sorted({int(r["vec_id"]) for r in cand_rows})
    # one parsed IN (...) predicate instead of Column.isin's per-value
    # Py4J literal marshalling (~0.17 s per invocation at |ids|≈200)
    exact = embq.filter(
        F.expr(f"vec_id IN ({','.join(map(str, ids))})")
        if ids
        else F.lit(False)
    ).select("vec_id", "v", "norm")
    # the two driver-local tables ride as LITERAL inline tables, not
    # createDataFrame: a Python-list createDataFrame enters the plan as
    # `Scan ExistingRDD` (a Python round-trip the global plan-hygiene
    # sweep bans, and unreadable in the registered plan). Both are
    # ≤ |Q|·C rows by design. Column-literal form (round-15): one
    # array Literal per COLUMN instead of one Py4J call per value —
    # the struct form spent ~3 s/invocation of driver time just
    # constructing the qv vectors' expression tree.
    qdf = _literal_cols_df(
        spark,
        {
            "query_id": [int(r["vec_id"]) for r in qrows],
            "qv": [[float(x) for x in r["v"]] for r in qrows],
            "qn": [float(r["norm"]) for r in qrows],
        },
        "query_id long, qv array<double>, qn double",
    )
    cand_df = _literal_cols_df(
        spark,
        {
            "query_id": [int(r["query_id"]) for r in cand_rows],
            "vec_id": [int(r["vec_id"]) for r in cand_rows],
        },
        "query_id long, vec_id long",
    )
    rescored = (
        cand_df.join(F.broadcast(exact), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot(F.col("v"), F.col("qv"))
                / (F.col("norm") * F.col("qn")),
                6,
            ).alias("cosine"),
        )
    )
    return _rank_topk(rescored)


def ann_cosine_topk_sq8(
    spark: SparkSession, sf_dir: str, rescore_c: int = SQ8_RESCORE_C
) -> DataFrame:
    """Self-contained SQ8 ANN: fit + codegen'd encode + two-stage
    search in one plan.
    The quantizer fit and the query-row collect are independent driver
    jobs, so they run from two driver threads (guide §2.6 overlap)."""
    from concurrent.futures import ThreadPoolExecutor

    embq = _emb(spark, sf_dir, scorable=True).withColumn(
        "norm", _norm(F.col("v"))
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fit = pool.submit(sq8_fit, spark, sf_dir)
        f_q = pool.submit(embq.filter(F.col("vec_id") < N_QUERIES).collect)
        vmin, vmax = f_fit.result()
        qrows = f_q.result()
    codes_df = _emb(spark, sf_dir, scorable=True).select(
        "vec_id", _sq8_code_expr(vmin, vmax).alias("codes")
    )
    return _sq8_search(
        spark, sf_dir, codes_df, vmin, vmax, rescore_c, qrows=qrows
    )


def ann_cosine_topk_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-15 registry fold (COVERAGE.md selection rule; the
    dedup_neardup_pairs precedent): the brute-force entry and the SQ8
    two-stage entry already shared ONE oracle (both registered against
    ``ANN_COSINE_TOPK_SQL`` — sq8's rescored top-k EQUAL to brute IS
    its contract, ``test_sq8_topk_matches_brute``), so they fold into
    one method-tagged union: both execution paths stay
    driver-value-checked per row while freeing a registry slot
    (rotating in ``ann_cosine_topk_ivf_indexed``, the persisted-index
    deployment path). The unmerged callables stay public, bench-named
    (bench.py EXTRA_QUERIES), and keep the driver's own value check in
    test_oracle_parity (de-registration convention)."""
    brute = ann_cosine_topk(spark, sf_dir).select(
        F.lit("brute").alias("method"), "query_id", "rank", "vec_id", "cosine"
    )
    sq8 = ann_cosine_topk_sq8(spark, sf_dir).select(
        F.lit("sq8").alias("method"), "query_id", "rank", "vec_id", "cosine"
    )
    return brute.unionByName(sq8)


# NOTE (the dedup_neardup_pairs rule): the 'sq8' arm deliberately
# reuses the BRUTE-force SQL — its two-stage exact rescore returns the
# true top-k whenever stage-1 recall@C is perfect, which
# test_sq8_topk_matches_brute pins at both fixture scales. A future
# fixture whose top-C quantized ranking drops a true winner would make
# the driver compare fail SPURIOUSLY — that is a fixture-contract
# violation (raise SQ8_RESCORE_C or re-split the union), not a reason
# to loosen the operator.
ANN_COSINE_TOPK_SUITE_SQL = f"""
SELECT 'brute' AS method, * FROM ({ANN_COSINE_TOPK_SQL})
UNION ALL
SELECT 'sq8' AS method, * FROM ({ANN_COSINE_TOPK_SQL})
"""


# --- hybrid sparse+dense retrieval (reciprocal-rank fusion) -------------------
# RRF constant from Cormack/Clarke/Buettcher SIGIR'09 ("Reciprocal rank
# fusion outperforms Condorcet and individual rank learning methods");
# k=60 is the paper's setting and the de-facto default everywhere.
RRF_C = 60


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, distinct non-empty whitespace tokens). NULL-text docs
    are not retrievable and not queries (the documents-side twin of
    ``_emb(scorable=True)``'s NULL/zero-norm exclusions)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.array_remove(F.array_distinct(F.split(F.col("text"), " ")), "")
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", toks.alias("toks")
    )


def _lexical_partial_topk(qtoks: list[tuple[int, list[str]]]):
    """mapInPandas scorer for the lexical arm — the dense arm's
    ``_masked_partial_topk`` contract (score rounded BEFORE ranking,
    doc_id tiebreak, self-exclusion, per-batch top-k) applied to
    token-set Jaccard. EXACT, not approximate: the vocabulary is the
    union of the |Q| query token sets verbatim (no hashing, so no
    collisions), intersection counts are integers — per batch, one
    C-level string-hash gather (``pd.Index.get_indexer`` over the
    batch's flattened tokens) and one scatter-add of query-indicator
    rows (``np.add.at``) replace corpus·|Q| interpreted
    ``array_intersect`` evaluations. Tokens outside the query
    vocabulary cannot contribute to any intersection, so ignoring
    them is lossless; ``na`` (each doc's distinct-token count) rides
    in from the JVM projection so the union size is
    ``na + nq - c`` without materializing unions.

    Rounding is ``floor(j·1e6 + 0.5)/1e6`` — and since round 14 the
    expression variant computes the SAME floor form in the JVM
    (identical IEEE multiply/add/floor → bit-identical by
    construction; ``F.round``'s BigDecimal HALF_UP disagrees with any
    float-product rounding when the product's error crosses the .5
    boundary — round-13 advice item, closed by aligning both variants
    on the float-product form, which DuckDB's ROUND also matches).

    Every batch doc is scored — zero-intersection docs participate
    with jaccard 0.0 — so per-batch top-k plus the shared global
    total order is exactly the full ranking, fillers included.
    """

    def _score(batches):
        import numpy as np
        import pandas as pd

        vidx = pd.Index(
            list(dict.fromkeys(t for _, ts in qtoks for t in ts)), dtype=object
        )
        n_v, n_q = len(vidx), len(qtoks)
        qm = np.zeros((max(n_v, 1), n_q), dtype=np.float64)
        for j, (_, ts) in enumerate(qtoks):
            if ts:
                qm[vidx.get_indexer(np.asarray(ts, dtype=object)), j] = 1.0
        nq = np.array([len(ts) for _, ts in qtoks], dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["doc_id"].to_numpy()
            na = pdf["na"].to_numpy().astype(np.float64)
            toks = pdf["toks"].to_numpy()
            n_b = len(ids)
            lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=n_b)
            c = np.zeros((n_b, n_q), dtype=np.float64)
            if lens.sum():
                flat = np.concatenate([np.asarray(t, dtype=object) for t in toks])
                hit = vidx.get_indexer(flat)  # -1 = not a query token
                rows = np.repeat(np.arange(n_b), lens)
                ok = hit >= 0
                if ok.any():
                    np.add.at(c, rows[ok], qm[hit[ok]])
            denom = na[:, None] + nq[None, :] - c
            with np.errstate(divide="ignore", invalid="ignore"):
                jac = np.where(
                    denom > 0, np.floor(c / denom * 1e6 + 0.5) / 1e6, 0.0
                )
            out = {"query_id": [], "doc_id": [], "jaccard": []}
            for j, (qid, _) in enumerate(qtoks):
                mask = ids != qid
                cand_ids, cand_j = ids[mask], jac[mask, j]
                order = np.lexsort((cand_ids, -cand_j))[:TOP_K]
                out["query_id"].extend([qid] * len(order))
                out["doc_id"].extend(cand_ids[order])
                out["jaccard"].extend(cand_j[order])
            yield pd.DataFrame(out)

    return _score


def lexical_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse (lexical) top-k per query document: distinct-token
    Jaccard of each corpus doc against each of the |Q| query docs
    (doc_id < N_QUERIES — the retrieval entries' shared query
    convention), ranked on (round(jaccard, 6) DESC, doc_id ASC) so the
    order is total and engine-independent; the query doc itself is
    excluded. An all-empty token union scores 0, never NULL (hostile
    fixture: blank/whitespace documents).

    Scale shape (round 13 — verdict item 5): the |Q| query token sets
    are driver-collected (a |Q|-row scan, the dense arm's query
    pattern) and shipped in the scorer closure; each Arrow batch
    scores against the query vocabulary with vectorized hash lookups
    + a scatter-add (``_lexical_partial_topk``) and emits only its
    per-batch top-k, so the query_id exchange carries
    ≤ tasks·|Q|·k survivor rows — the exact plan shape of
    ``ann_cosine_topk`` (Scan → Project → MapInPandas → Sort +
    WindowGroupLimit partial → tiny Exchange → final window). It
    replaced an interpreted-expression variant (40.3k docs/s at 10M;
    the A/B row lives in BASELINE.md); ``LEXICAL_TOPK_SQL`` is the
    value oracle.
    """
    from pyspark.sql import Window as W

    d = _doc_tokens(spark, sf_dir).withColumn("na", F.size("toks"))
    qtoks = [
        (r["doc_id"], list(r["toks"]))
        for r in d.filter(F.col("doc_id") < N_QUERIES).collect()
    ]
    partial = d.mapInPandas(
        _lexical_partial_topk(qtoks),
        "query_id long, doc_id long, jaccard double",
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("jaccard").desc(), F.col("doc_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "doc_id", "jaccard")
    )


LEXICAL_TOPK_SQL = f"""
WITH d AS (
    SELECT doc_id,
           list_filter(list_distinct(string_split(text, ' ')), t -> t != '')
               AS toks
    FROM documents WHERE text IS NOT NULL
),
q AS (SELECT doc_id AS query_id, toks AS q_toks FROM d
      WHERE doc_id < {N_QUERIES}),
s AS (
    SELECT q.query_id, d.doc_id,
           CASE WHEN len(list_distinct(list_concat(d.toks, q.q_toks))) > 0
                THEN ROUND(len(list_intersect(d.toks, q.q_toks))::DOUBLE
                     / len(list_distinct(list_concat(d.toks, q.q_toks))), 6)
                ELSE 0.0 END AS jaccard
    FROM d, q WHERE d.doc_id != q.query_id
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY jaccard DESC, doc_id) AS rank
    FROM s
)
SELECT query_id, rank, doc_id, jaccard FROM r WHERE rank <= {TOP_K}
"""


def hybrid_topk_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval via reciprocal-rank fusion — the
    candidate-generation staple (dense recall + lexical precision):
    fuse ``ann_cosine_topk``'s embedding ranking with
    ``lexical_topk``'s token-Jaccard ranking per query,
    ``rrf = Σ_arms 1 / (RRF_C + rank)`` (absent arm contributes 0),
    re-ranked on (round(rrf, 9) DESC, doc_id ASC), top ``TOP_K``.
    vec_id and doc_id are the aligned parallel-table ids of the
    testdata convention (both 0..N-1); a query missing from one arm
    (e.g. its embedding is NULL on the hostile fixture) is fused from
    the other arm alone — the full-outer join does the right thing.

    Scale shape: each arm's output is ≤ |Q|·k rows by construction
    (their own partial-top-k plans do the heavy lifting), so the
    fusion itself is a tiny full-outer join + window — nothing
    corpus-sized crosses an exchange here.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Window as W

    # each arm's construction runs an eager driver-side collect (the
    # dense arm's query vectors, the sparse arm's query token sets);
    # they are independent, so the arms build on two driver threads
    # (guide §2.6 overlap)
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_dense = pool.submit(ann_cosine_topk, spark, sf_dir)
        f_sparse = pool.submit(lexical_topk, spark, sf_dir)
        dense = f_dense.result().select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.col("rank").alias("rank_d"),
        )
        sparse = f_sparse.result().select(
            "query_id", "doc_id", F.col("rank").alias("rank_s")
        )
    fused = dense.join(sparse, ["query_id", "doc_id"], "full_outer")
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("rank_d")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("rank_s")), F.lit(0.0)),
        9,
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.select("query_id", "doc_id", rrf.alias("rrf"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "doc_id", "rrf")
    )


HYBRID_TOPK_RRF_SQL = f"""
WITH dense AS ({ANN_COSINE_TOPK_SQL}),
sparse AS ({LEXICAL_TOPK_SQL}),
f AS (
    SELECT COALESCE(d.query_id, s.query_id) AS query_id,
           COALESCE(d.vec_id, s.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / ({RRF_C} + d.rank), 0)
                 + COALESCE(1.0 / ({RRF_C} + s.rank), 0), 9) AS rrf
    FROM dense d
    FULL OUTER JOIN sparse s
      ON d.query_id = s.query_id AND d.vec_id = s.doc_id
),
r AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
    FROM f
)
SELECT query_id, rank, doc_id, rrf FROM r WHERE rank <= {TOP_K}
"""

"""Similarity-search properties: LSH recall vs the brute-force baseline."""

from __future__ import annotations

from fledge_south_csvplayback_spark.operators import similarity as S
from tests.conftest import TEST_SF_DIR
from tests.oracle_harness import compare


def test_lsh_recall_vs_bruteforce(spark):
    bf = {(r.query_id, r.vec_id) for r in S.ann_cosine_topk(spark, TEST_SF_DIR).collect()}
    lsh = {
        (r.query_id, r.vec_id)
        for r in S.ann_cosine_topk_lsh(spark, TEST_SF_DIR).collect()
    }
    assert len(bf) == S.N_QUERIES * S.TOP_K
    assert len(lsh) == S.N_QUERIES * S.TOP_K
    recall = len(bf & lsh) / len(bf)
    assert recall >= 0.8, recall


def test_embedding_cosine_pairs_recall(spark):
    import duckdb

    truth = {
        (a, b)
        for a, b in duckdb.connect()
        .execute(
            f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS n
            FROM read_parquet('{TEST_SF_DIR}/embeddings.parquet'))
        SELECT a.vec_id, b.vec_id
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.n * b.n) >= {S.COSINE_PAIR_THRESHOLD}
        """
        )
        .fetchall()
    }
    got = {
        (r.vec_a, r.vec_b)
        for r in S.embedding_cosine_pairs(spark, TEST_SF_DIR).collect()
    }
    assert got <= truth  # exact verification: no false positives
    assert truth, "threshold should select some pairs in the fixture data"
    recall = len(got) / len(truth)
    assert recall >= 0.5, (recall, len(got), len(truth))


def test_ivf_topk_shape_and_recall(spark):
    """IVF searches only the probed cells, so recall against brute force
    is bounded by how much of the space nprobe covers. The synthetic
    embeddings are near-uniform (no cluster structure for the coarse
    quantizer to exploit), the worst case for IVF: measured recall is
    0.30/0.58/0.78 at nprobe 4/8/10 of 16 cells — monotone in nprobe,
    which is the property that matters; clustered real-world embeddings
    concentrate neighbors in few cells. The floor here guards against
    wiring bugs (wrong cell join, dropped lists), not approximation
    quality."""
    bf = {(r.query_id, r.vec_id) for r in S.ann_cosine_topk(spark, TEST_SF_DIR).collect()}
    ivf_rows = S.ann_cosine_topk_ivf(spark, TEST_SF_DIR).collect()
    ivf = {(r.query_id, r.vec_id) for r in ivf_rows}
    assert len(ivf) == S.N_QUERIES * S.TOP_K
    recall = len(bf & ivf) / len(bf)
    assert recall >= 0.25, recall
    for r in ivf_rows:
        assert r.vec_id != r.query_id
        assert 1 <= r.rank <= S.TOP_K


def test_bruteforce_topk_shape(spark):
    rows = S.ann_cosine_topk(spark, TEST_SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.vec_id != r.query_id
        assert -1.0 <= r.cosine <= 1.0
    for q, rs in by_q.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, S.TOP_K + 1))
        ordered = sorted(rs, key=lambda x: x.rank)
        cosines = [x.cosine for x in ordered]
        assert cosines == sorted(cosines, reverse=True)


def test_ivf_indexed_matches_inline(spark, tmp_path):
    """The persisted-index IVF path (build_ivf_index +
    ann_cosine_topk_ivf_indexed) must return exactly the inline entry's
    rows: same centroids rule, same probe sets, same masked partial
    top-k — only the assignment's location (ingest vs query) differs."""
    index_dir = str(tmp_path / "ivf_index")
    S.build_ivf_index(spark, TEST_SF_DIR, index_dir)
    inline = {
        tuple(r) for r in S.ann_cosine_topk_ivf(spark, TEST_SF_DIR).collect()
    }
    indexed = {
        tuple(r)
        for r in S.ann_cosine_topk_ivf_indexed(
            spark, TEST_SF_DIR, index_dir
        ).collect()
    }
    assert indexed == inline


def test_ivf_indexed_prunes_partitions(spark, tmp_path):
    """partitionBy(cell_id) + the probe-cell filter must reach the scan
    as PartitionFilters — Spark then prunes at file listing, so only
    probed cells' directories are ever opened. nprobe=1 makes the union
    of 10 queries' best cells provably smaller than the 16 on-disk
    partitions. (df.inputFiles() can't check this: it lists the
    relation's files BEFORE filters apply.)"""
    import os
    import re

    index_dir = str(tmp_path / "ivf_index")
    S.build_ivf_index(spark, TEST_SF_DIR, index_dir)
    df = S.ann_cosine_topk_ivf_indexed(spark, TEST_SF_DIR, index_dir, nprobe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "cell_id" in ln
    ]
    assert pf, plan
    probed = {int(v) for v in re.findall(r"(\d+)", pf[0].split("IN (")[1])}
    on_disk = {
        int(d.split("=")[1])
        for d in os.listdir(index_dir)
        if d.startswith("cell_id=")
    }
    assert probed and probed < on_disk, (probed, on_disk)


def test_bucket_row_scorer_dedups_within_batch():
    """Regression (round-5 review finding): in bucket_rows mode,
    duplicate rows of one vector inside a single Arrow batch must NOT
    consume multiple per-batch top-k slots — without the in-batch
    vec_id dedup, a distinct true top-k vector gets evicted and the
    post-scorer groupBy-max collapse cannot bring it back. Drives the
    scorer directly with one hand-built batch: vector 100 appears in 4
    bucket rows and 5 other distinct matching vectors exist; all 5
    slots must go to distinct vectors."""
    import numpy as np
    import pandas as pd

    dim = 4
    # query 0: unit x-axis; keys [0]*1 band world: band 0, key 0
    qmat = [(0, [1.0, 0.0, 0.0, 0.0], 1.0, [0])]
    rows = []

    def vec(i, x):
        v = np.zeros(dim)
        v[0] = x
        v[1] = (1 - x * x) ** 0.5
        return {"vec_id": i, "v": v.tolist(), "norm": 1.0, "band": 0, "key": 0}

    rows.extend(vec(100, 0.99) for _ in range(4))  # 4 duplicate bucket rows
    for i, x in zip(range(101, 106), (0.9, 0.8, 0.7, 0.6, 0.5)):
        rows.append(vec(i, x))
    batch = pd.DataFrame(rows)
    out = pd.concat(
        list(S._masked_partial_topk(qmat, mode="bucket_rows")([batch]))
    )
    got = list(out["vec_id"])
    assert len(got) == S.TOP_K
    assert len(set(got)) == S.TOP_K  # all distinct
    assert got == [100, 101, 102, 103, 104]


# --- k-means -----------------------------------------------------------------
def test_kmeans_matches_numpy_replica(spark):
    """The distributed fit is EXACTLY Lloyd's with first-k init and
    first-minimum ties: a pure-numpy replica over the collected table
    reproduces centroids and per-iteration inertia."""
    import numpy as np

    k, iters = 4, 3
    rows = sorted(
        (r.vec_id, [float(x) for x in r.embedding])
        for r in spark.read.parquet(
            f"{TEST_SF_DIR}/embeddings.parquet"
        ).collect()
    )
    x = np.array([v for _, v in rows], dtype=np.float64)
    cents = np.array([v for _, v in rows[:k]], dtype=np.float64)  # first k by vec_id
    want_inertia = []
    for _ in range(iters):
        # the operator's expanded form (||c||^2 - 2 x.c), not direct
        # subtraction: near-equidistant points must tie-break identically
        d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (x @ cents.T)
        a = np.argmin(d2, axis=1)
        full = d2[np.arange(len(x)), a] + (x * x).sum(axis=1)
        want_inertia.append(float(full.sum()))
        for j in range(k):
            if (a == j).any():
                cents[j] = x[a == j].mean(axis=0)
    got_cents, got_inertia = S.kmeans_fit(spark, TEST_SF_DIR, k=k, iters=iters)
    assert np.allclose(got_inertia, want_inertia, rtol=1e-9)
    assert np.allclose(got_cents, cents, atol=1e-9)


def test_kmeans_inertia_monotone_and_deterministic(spark):
    c1, i1 = S.kmeans_fit(spark, TEST_SF_DIR)
    c2, i2 = S.kmeans_fit(spark, TEST_SF_DIR)
    assert c1 == c2 and i1 == i2  # no RNG, partitioning-independent
    assert all(b <= a + 1e-9 for a, b in zip(i1, i1[1:]))  # Lloyd's descent


def test_lsh_production_keys_match_reproducible(spark):
    """reproducible=False computes band keys as a per-batch numpy GEMM
    (no Catalyst hyperplane dots, no keys column) — same planes, same
    sign rule, so output must equal the registered path on the fixture
    corpus (modulo the documented exact-zero-dot last-ulp caveat, which
    no fixture vector exhibits)."""
    rep = {tuple(r) for r in S.ann_cosine_topk_lsh(spark, TEST_SF_DIR).collect()}
    prod = {
        tuple(r)
        for r in S.ann_cosine_topk_lsh(
            spark, TEST_SF_DIR, reproducible=False
        ).collect()
    }
    assert rep == prod


def test_lsh_band_sql_matches_column_build(spark):
    """_lsh_bands builds as ONE parsed SQL string (round 15); the
    replaced per-Column tree build is replicated here verbatim and the
    two must agree on every (band, key) of every fixture vector — the
    oracle rebuilds bucket membership bit-for-bit, so any drift in the
    planes literal, dot fold order, sign rule or bit packing is an
    output change, not a refactor."""
    from pyspark.sql import functions as F

    def column_build(v):
        planes_lit = F.lit(S._hyperplanes())
        per_band = S.LSH_PLANES // S.LSH_BANDS

        def bit(idx):
            return F.when(
                S._dot(v, F.element_at(planes_lit, idx)) >= 0, 1
            ).otherwise(0)

        return F.transform(
            F.sequence(F.lit(0), F.lit(S.LSH_BANDS - 1)),
            lambda b: F.struct(
                b.alias("band"),
                sum(
                    [
                        bit(b * per_band + i + 1) * (1 << i)
                        for i in range(per_band)
                    ],
                    F.lit(0),
                ).alias("key"),
            ),
        )

    both = S._emb(spark, TEST_SF_DIR, scorable=True).select(
        column_build(F.col("v")).alias("o"), S._lsh_bands("v").alias("n")
    )
    assert both.filter(F.col("o") != F.col("n")).count() == 0
    assert both.filter(F.col("o").isNull() | F.col("n").isNull()).count() == 0


def test_ivf_index_kmeans_centroids(spark, tmp_path):
    """The kmeans production quantizer: build_ivf_index persists its
    fitted centroids with the index, the query path reads them back,
    and probing ALL cells must reproduce the brute-force top-k exactly
    (the quantizer partitions the corpus, so a full probe loses
    nothing) — the plumbing-exactness gate. A partial probe must stay
    well-formed and deterministic across rebuilds."""
    index_dir = str(tmp_path / "ivf_kmeans")
    S.build_ivf_index(
        spark, TEST_SF_DIR, index_dir, centroids="kmeans", kmeans_iters=3
    )
    # _centroids is invisible to a plain read of the data
    assert set(spark.read.parquet(index_dir).columns) == {
        "vec_id", "v", "norm", "cell_id"
    }
    brute = {tuple(r) for r in S.ann_cosine_topk(spark, TEST_SF_DIR).collect()}
    full = {
        tuple(r)
        for r in S.ann_cosine_topk_ivf_indexed(
            spark, TEST_SF_DIR, index_dir, nprobe=S.IVF_CELLS
        ).collect()
    }
    assert full == brute
    part1 = sorted(
        tuple(r)
        for r in S.ann_cosine_topk_ivf_indexed(
            spark, TEST_SF_DIR, index_dir, nprobe=4
        ).collect()
    )
    index_dir2 = str(tmp_path / "ivf_kmeans2")
    S.build_ivf_index(
        spark, TEST_SF_DIR, index_dir2, centroids="kmeans", kmeans_iters=3
    )
    part2 = sorted(
        tuple(r)
        for r in S.ann_cosine_topk_ivf_indexed(
            spark, TEST_SF_DIR, index_dir2, nprobe=4
        ).collect()
    )
    assert part1 == part2  # no RNG anywhere: rebuild reproduces exactly
    # partial probe recall vs brute ground truth stays useful
    hits = len(set(part1) & brute)
    assert hits / len(brute) >= 0.5, hits / len(brute)


def test_ivf_index_rejects_unknown_centroid_mode(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError):
        S.build_ivf_index(
            spark, TEST_SF_DIR, str(tmp_path / "x"), centroids="magic"
        )


# --- SemDeDup ----------------------------------------------------------------
def _semdedup_numpy_replica(rows, cents, eps):
    """Pure-numpy SemDeDup over the collected table: same assignment
    arithmetic, same scan order, same triangular prior-max rule."""
    import numpy as np

    c = np.array(cents, dtype=np.float64)
    x = np.array([v for _, v in rows], dtype=np.float64)
    ids = np.array([i for i, _ in rows])
    d2 = (c * c).sum(axis=1)[None, :] - 2.0 * (x @ c.T)
    a = np.argmin(d2, axis=1)
    full = np.maximum(
        d2[np.arange(len(x)), a] + (x * x).sum(axis=1), 0.0
    )
    want = {}
    for cell in np.unique(a):
        mask = a == cell
        cids, cd2, cm = ids[mask], full[mask], x[mask]
        order = np.lexsort((cids, -cd2))
        cids, cd2, cm = cids[order], cd2[order], cm[order]
        mn = cm / np.maximum(
            np.sqrt((cm * cm).sum(axis=1)), 1e-12
        )[:, None]
        sim = mn @ mn.T
        n = len(cids)
        prior = np.full(n, -1.0)
        if n > 1:
            tri = np.where(
                np.tril(np.ones((n, n), dtype=bool), k=-1), sim, -np.inf
            )
            prior[1:] = tri.max(axis=1)[1:]
        pr = np.round(prior, 6)
        for i in range(n):
            want[int(cids[i])] = (
                int(cell),
                round(float(cd2[i]), 6),
                float(pr[i]),
                bool(pr[i] < eps),
            )
    return want


def test_semdedup_matches_numpy_replica(spark):
    import numpy as np

    eps = 0.4  # within-cell priors reach ~0.47 here — exercises drops
    rows = sorted(
        (r.vec_id, [float(x) for x in r.embedding])
        for r in spark.read.parquet(
            f"{TEST_SF_DIR}/embeddings.parquet"
        ).collect()
    )
    cents, _ = S.kmeans_fit(spark, TEST_SF_DIR)
    want = _semdedup_numpy_replica(rows, cents, eps)
    got = {
        r.vec_id: (r.cell_id, r.sq_dist, r.max_prior_cos, r.keep)
        for r in S.semantic_dedup(spark, TEST_SF_DIR, eps=eps).collect()
    }
    assert len(got) == len(rows)
    for vid, w in want.items():
        g = got[vid]
        assert g[0] == w[0], (vid, g, w)
        assert abs(g[1] - w[1]) <= 1e-6 and abs(g[2] - w[2]) <= 1e-6
        assert g[3] == w[3], (vid, g, w)
    # on this eps the rule must actually drop something
    assert any(not r[3] for r in got.values())
    assert any(r[3] for r in got.values())


def test_semdedup_planted_duplicates(spark, tmp_path):
    """Three exact-duplicate groups + two loners: exactly one survivor
    per duplicate group, loners untouched, regardless of cell sizes."""
    import numpy as np

    rng_free = []
    base = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 0.0],
    }
    rows = []
    vid = 0
    for g, v in base.items():
        for _ in range(3):  # 3 copies each
            rows.append((vid, [float(x) for x in v], g))
            vid += 1
    rows.append((vid, [0.0, 0.0, 0.0, 1.0], 97)); vid += 1
    rows.append((vid, [0.7, 0.7, 0.14, 0.0], 98)); vid += 1
    df = spark.createDataFrame(
        [(i, v, g) for i, v, g in rows],
        "vec_id long, embedding array<float>, label int",
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = S.semantic_dedup(spark, str(tmp_path), k=2, iters=2, eps=0.99).collect()
    kept = {r.vec_id for r in out if r.keep}
    # exactly one survivor among each exact-duplicate triple
    for g in range(3):
        trio = {3 * g, 3 * g + 1, 3 * g + 2}
        assert len(kept & trio) == 1, (g, kept)
    assert vid - 1 in kept and vid - 2 in kept  # loners survive
    assert len(out) == vid


def test_semdedup_zero_norm_vector(spark, tmp_path):
    """A zero-norm embedding is cosine 0 to everything: it neither
    counts as a duplicate nor poisons max_prior_cos for later rows in
    its cell (the unguarded norm produced NaN, and NaN < eps silently
    dropped the whole tail of the cell)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # zero-norm
        (2, [1.0, 0.0, 0.0, 0.0]),  # dup of 0
        (3, [0.0, 1.0, 0.0, 0.0]),  # distinct
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df.write.mode("overwrite").parquet(f"{tmp_path}/embeddings.parquet")
    out = {
        r.vec_id: r
        for r in S.semantic_dedup(
            spark, str(tmp_path), k=1, iters=1, eps=0.99
        ).collect()
    }
    assert len(out) == 4
    import math

    assert all(not math.isnan(r.max_prior_cos) for r in out.values())
    # the zero vector survives (cosine 0 < eps to everything)
    assert out[1].keep
    # exactly one of the exact-dup pair survives; the distinct row does
    assert sum(out[i].keep for i in (0, 2)) == 1
    assert out[3].keep


def test_semdedup_one_exchange_on_cell(spark):
    """Assignment is narrow (mapInPandas over the scan); the only
    shuffle is the per-cell grouping."""
    import re

    df = S.semantic_dedup(spark, TEST_SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = {
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\((\w+)#", plan)
    }
    assert keys == {"cell_id"}, (keys, plan)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_semdedup_deterministic_and_validates(spark):
    import pytest

    a = sorted(map(tuple, S.semantic_dedup(spark, TEST_SF_DIR).collect()))
    b = sorted(map(tuple, S.semantic_dedup(spark, TEST_SF_DIR).collect()))
    assert a == b
    with pytest.raises(ValueError, match="eps"):
        S.semantic_dedup(spark, TEST_SF_DIR, eps=0.0)


# --- SQ8 scalar quantization --------------------------------------------------
def test_sq8_reconstruction_error_bounded(spark):
    """|v̂ - v| <= (hi-lo)/(2·255) per coordinate for in-range values —
    the quantizer's defining guarantee (round-to-nearest level)."""
    import numpy as np

    vmin, vmax = S.sq8_fit(spark, TEST_SF_DIR)
    lo, hi = np.array(vmin), np.array(vmax)
    scale = (hi - lo) / S.SQ8_LEVELS
    rows = (
        S._emb(spark, TEST_SF_DIR)
        .select("vec_id", "v", S._sq8_code_expr(vmin, vmax).alias("codes"))
        .limit(200)
        .collect()
    )
    for r in rows:
        v = np.array(list(r["v"]))
        recon = lo + np.array(list(r["codes"])) * scale
        assert (np.abs(recon - v) <= scale / 2 + 1e-12).all()


def test_sq8_topk_matches_brute(spark):
    """With stage-1 recall@C perfect (C = 4k over 8-bit codes at 64-d,
    quantization error ~1e-3 in cosine), the exact-rescored top-k
    EQUALS the brute-force top-k — pinned against the brute oracle SQL
    at both fixture scales."""
    from tests.conftest import ORACLE_SF_DIR
    from tests.oracle_harness import compare

    for sf in (TEST_SF_DIR, ORACLE_SF_DIR):
        df = S.ann_cosine_topk_sq8(spark, sf)
        ok, msg = compare(df, S.ANN_COSINE_TOPK_SQL, sf)
        assert ok, msg


def test_sq8_output_dtypes_are_data_independent(spark):
    """The registered SQ8 query's id columns are bigint regardless of
    id magnitude (the DuckDB oracle yields BIGINT)."""
    got = dict(S.ann_cosine_topk_sq8(spark, TEST_SF_DIR).dtypes)
    assert got["query_id"] == "bigint" and got["vec_id"] == "bigint", got


# --- hybrid sparse+dense RRF fusion (round 12) --------------------------------
def test_lexical_topk_oracle_parity(spark):
    ok, msg = compare(
        S.lexical_topk(spark, TEST_SF_DIR), S.LEXICAL_TOPK_SQL, TEST_SF_DIR
    )
    assert ok, msg


def test_hybrid_rrf_oracle_parity(spark):
    ok, msg = compare(
        S.hybrid_topk_rrf(spark, TEST_SF_DIR),
        S.HYBRID_TOPK_RRF_SQL,
        TEST_SF_DIR,
    )
    assert ok, msg


def test_hybrid_rrf_oracle_parity_sf001(spark):
    from tests.conftest import ORACLE_SF_DIR

    ok, msg = compare(
        S.hybrid_topk_rrf(spark, ORACLE_SF_DIR),
        S.HYBRID_TOPK_RRF_SQL,
        ORACLE_SF_DIR,
    )
    assert ok, msg


def test_hybrid_rrf_fusion_semantics(spark):
    """Every fused candidate comes from at least one arm; rrf equals
    the hand-computed sum of 1/(C+rank) over the arms the candidate
    appears in; a candidate present in BOTH arms at ranks (i, j)
    outscores one present in a single arm at min(i, j)."""
    dense = {
        (r.query_id, r.vec_id): r.rank
        for r in S.ann_cosine_topk(spark, TEST_SF_DIR).collect()
    }
    sparse = {
        (r.query_id, r.doc_id): r.rank
        for r in S.lexical_topk(spark, TEST_SF_DIR).collect()
    }
    fused = S.hybrid_topk_rrf(spark, TEST_SF_DIR).collect()
    assert fused
    pool = set(dense) | set(sparse)
    both = {k for k in dense if k in sparse}
    for r in fused:
        key = (r.query_id, r.doc_id)
        assert key in pool
        want = round(
            (1.0 / (S.RRF_C + dense[key]) if key in dense else 0.0)
            + (1.0 / (S.RRF_C + sparse[key]) if key in sparse else 0.0),
            9,
        )
        assert abs(r.rrf - want) < 1e-12, (key, r.rrf, want)
    # self-exclusion: a query never retrieves itself
    assert all(r.query_id != r.doc_id for r in fused)
    # two-arm dominance over a single arm at the same best rank
    if both:
        k = next(iter(both))
        i, j = dense[k], sparse[k]
        two = 1.0 / (S.RRF_C + i) + 1.0 / (S.RRF_C + j)
        assert two > 1.0 / (S.RRF_C + min(i, j))


def test_lexical_topk_plan_shape(spark):
    """The scorer variant is the dense arm's plan shape: one corpus
    scan into MapInPandas, partial WindowGroupLimit ranking — no join
    operator at all, and corpus·|Q| scored rows never cross the
    exchange unpruned."""
    plan = S.lexical_topk(spark, TEST_SF_DIR)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "MapInPandas" in plan
    assert "WindowGroupLimit" in plan
    assert "Join" not in plan


def test_lexical_rounding_agrees_by_construction(spark):
    """Round-13 advice item: the scorer's numpy ``floor(j·1e6+0.5)/1e6``
    and the expression variant's rounding must agree on EVERY double,
    not just the fixture's ratios — so the expression variant now
    computes the same floor form in the JVM (identical IEEE
    multiply/add/floor → bit-identical by construction). Pinned on
    adversarial half-boundary values — doubles within an ulp of an
    exact ``n + 0.5`` product — where ``F.round``'s BigDecimal HALF_UP
    was measured to diverge from the float-product form in ~0.7 % of
    cases (and from DuckDB's ROUND, which the floor form matches)."""
    import numpy as np
    from pyspark.sql import functions as F

    vals = []
    for n in range(1, 5000, 13):
        x = (n + 0.5) / 1e6
        vals += [float(np.nextafter(x, -np.inf)), float(x), float(np.nextafter(x, np.inf))]
    arr = np.unique(np.array(vals, dtype=np.float64))
    want = np.floor(arr * 1e6 + 0.5) / 1e6  # the scorer's numpy form
    rows = (
        spark.createDataFrame([(float(x),) for x in arr], "v double")
        .select("v", (F.floor(F.col("v") * 1e6 + 0.5) / 1e6).alias("ff"))
        .collect()
    )
    got = {r["v"]: r["ff"] for r in rows}
    for x, w in zip(arr, want):
        assert got[float(x)] == w, x
    # DuckDB's ROUND matches the floor form on the same values (the
    # oracle-side half of the construction)
    import duckdb

    duck = duckdb.connect().execute(
        "SELECT round(v, 6) FROM (SELECT unnest(?) AS v)",
        [list(map(float, arr))],
    ).fetchall()
    assert [d[0] for d in duck] == list(want)


def test_kmeans_fixed_point_early_exit_is_exact(spark, tmp_path):
    """The round-16 fixed-point shortcut: once an update leaves every
    centroid bit-identical, the remaining iterations are skipped and
    the inertia tail filled — returns must be BITWISE what running
    them would produce. Two tight, well-separated clusters converge
    after the first update, so iters=6 exercises the shortcut; the
    replica runs all six iterations the long way."""
    import numpy as np

    sf_dir = str(tmp_path)
    rows = []
    for i in range(8):
        base = 0.0 if i % 2 == 0 else 10.0
        rows.append((i, [float(base)] * 4 + [0.0] * 60, 0))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{sf_dir}/embeddings.parquet")

    k, iters = 2, 6
    x = np.array([r[1] for r in rows], dtype=np.float64)
    cents = x[:k].copy()
    want_inertia = []
    for _ in range(iters):
        d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (x @ cents.T)
        a = np.argmin(d2, axis=1)
        full = d2[np.arange(len(x)), a] + (x * x).sum(axis=1)
        want_inertia.append(float(full.sum()))
        cnt = np.bincount(a, minlength=k)
        s = np.zeros_like(cents)
        np.add.at(s, a, x)
        cents = np.where(
            (cnt > 0)[:, None], s / np.maximum(cnt, 1)[:, None], cents
        )
    got_cents, got_inertia = S.kmeans_fit(spark, sf_dir, k=k, iters=iters)
    assert len(got_inertia) == iters
    assert got_inertia == want_inertia
    assert np.array_equal(np.array(got_cents), cents)

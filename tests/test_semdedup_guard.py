"""Round-12 verdict task 1: the hot-cell sub-bucket guard on
``semantic_pairs``' blocked per-cell path.

The r11 finding: the auto-IVF tier sizes ``nlist`` for the AVERAGE cell,
then ``blocked_self_pairs`` materializes each cell as ONE pandas group in
ONE task — a hot k-means cell on clustered real-world embeddings becomes
a single-task quadratic plus an executor OOM. The guard ports the vector
index's ``max_cell_size`` idea (vector_index.py ``_cell_guard``) into the
self-pair path: oversized cells are split by hyperplane sign-pattern
sub-buckets with SYMMETRIC 1-bit multiprobe (every row explodes to its
own bucket plus each 1-bit flip), so a pair survives whenever its sign
patterns differ in <= 2 bits — strictly better survival than the
one-sided (p+1)-probe at identical per-bucket cost, because both factors
of the blow-up are counted by the same ``worst*(p+1)/2^p <= cap`` sizing
rule.

Pinned here:
* the guard never engages below the cap (bit-parity with the unguarded
  plan — what keeps the catalog oracle replays hash-exact);
* on a SKEWED fixture (one cell holding >= 30% of vectors) per-task
  group sizes stay bounded by the cap;
* recall on planted near-dup pairs inside the hot cell stays >= 0.95 vs
  the exact tier;
* ``semantic_dedup`` end-to-end on the skewed fixture agrees with the
  exact keep-set.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from qafs_spark.pipeline.semdedup import semantic_dedup, semantic_pairs
from qafs_spark.pipeline.similarity import (
    _self_pair_guard,
    blocked_self_pairs,
    norm,
)

DIM = 8
# four well-separated unit centroids (axes 0..3)
CENTS = [[1.0 if j == i else 0.0 for j in range(DIM)] for i in range(4)]


def _unit(v):
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def _skewed_rows(n_hot=500, n_cold=700, n_planted=40, seed=11):
    """(rows, planted_pairs): ~42% of vectors in cell 0 (DIVERSE residual
    spread — the guard's target case; a hot cell of literal duplicates
    has irreducibly quadratic OUTPUT), the rest spread over cells 1..3.
    ``n_planted`` near-dup pairs (cosine ~0.999) planted INSIDE the hot
    cell, so the exact tier finds them all and any guard loss shows up
    as recall."""
    rng = random.Random(seed)
    rows, planted = [], []
    vid = 0

    def noisy(center, spread):
        return _unit([c + rng.gauss(0, spread) for c in center])

    for _ in range(n_hot):
        rows.append((vid, noisy(CENTS[0], 0.45)))
        vid += 1
    for i in range(n_cold):
        rows.append((vid, noisy(CENTS[1 + i % 3], 0.45)))
        vid += 1
    for _ in range(n_planted):
        base = noisy(CENTS[0], 0.45)
        dup = _unit([x + rng.gauss(0, 0.004) for x in base])
        rows.append((vid, base))
        rows.append((vid + 1, dup))
        planted.append((vid, vid + 1))
        vid += 2
    return rows, planted


@pytest.fixture(scope="module")
def skewed(spark):
    rows, planted = _skewed_rows()
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).coalesce(8)
    df = df.persist()
    df.count()
    yield df, planted
    df.unpersist()


def _assigned(df):
    from qafs_spark.pipeline.similarity import _cell_assigner

    assign = _cell_assigner(CENTS)
    return df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        norm(F.col("embedding")).alias("__n"),
        assign(F.col("embedding")).alias("cell"),
    )


def test_guard_disengaged_below_cap_is_bit_parity(spark, skewed):
    """Cap above the worst cell: _self_pair_guard returns None and the
    guarded call returns the IDENTICAL pair set (same plan family), so
    catalog fixtures (which never reach the cap) replay hash-exact."""
    df, _ = skewed
    v = _assigned(df)
    assert _self_pair_guard(v, "cell", 100_000, DIM) is None
    base = sorted(
        map(tuple, blocked_self_pairs(v, "cell", 0.95).collect())
    )
    guarded = sorted(
        map(
            tuple,
            blocked_self_pairs(
                v, "cell", 0.95, max_cell_size=100_000, dim=DIM
            ).collect(),
        )
    )
    assert guarded == base and len(base) > 0


def test_guard_bounds_per_task_group_sizes(spark, skewed):
    """The metric assert: after the guard explodes the hot cell into
    sub-buckets, NO (cell, __sub) group exceeds the cap — the per-task
    quadratic is bounded regardless of the skew that sized it."""
    df, _ = skewed
    v = _assigned(df)
    # cap between the cold cells (~233 rows each) and the hot cell
    # (~580): exactly the hot cell is flagged, cold cells untouched
    cap = 300
    res = _self_pair_guard(v, "cell", cap, DIM)
    assert res is not None
    v2, planes, big = res
    assert big == [0]  # the hot cell was the one flagged
    # sizing rule: worst*(planes+1)/2^planes <= cap
    worst = (
        v.groupBy("cell").count().agg(F.max("count")).first()[0]
    )
    assert worst * (planes + 1) / (2 ** planes) <= cap
    sizes = (
        v2.groupBy("cell", "__sub")
        .count()
        .agg(F.max("count").alias("mx"))
        .first()["mx"]
    )
    assert sizes <= cap, f"hot sub-bucket {sizes} exceeds cap {cap}"
    # non-hot cells are untouched: single __sub = -1 bucket each
    subs = (
        v2.filter(~F.col("cell").isin([int(b) for b in big]))
        .select("__sub")
        .distinct()
        .collect()
    )
    assert [r["__sub"] for r in subs] == [-1]


def test_guard_recall_on_planted_pairs(spark, skewed):
    """Guarded IVF pairs must keep >= 0.95 of the planted hot-cell
    near-dup pairs the exact tier finds (survival at cosine ~0.999 is
    P(hamming<=2) ~ 0.999 at the planes the sizing picks)."""
    df, planted = skewed
    exact = semantic_pairs(df, threshold=0.99, exact=True)
    got_exact = {
        (r["id_a"], r["id_b"]) for r in exact.collect()
    }
    for p in planted:
        assert p in got_exact  # fixture sanity: exact finds every plant
    guarded = semantic_pairs(
        df, threshold=0.99, centroids=CENTS, max_cell_size=64
    )
    got = {(r["id_a"], r["id_b"]) for r in guarded.collect()}
    hits = sum(1 for p in planted if p in got)
    recall = hits / len(planted)
    assert recall >= 0.95, f"planted recall {recall} < 0.95"
    # and nothing invented: every guarded pair is a true >=thr pair
    assert got <= got_exact


def test_guard_pairs_subset_of_unguarded_ivf(spark, skewed):
    """The guard only ever REMOVES candidate pairs (sub-bucket splits);
    cosines of surviving pairs are bit-identical to the unguarded
    blocked path."""
    df, _ = skewed
    unguarded = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_pairs(
            df, threshold=0.97, centroids=CENTS, max_cell_size=None
        ).collect()
    }
    guarded = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_pairs(
            df, threshold=0.97, centroids=CENTS, max_cell_size=64
        ).collect()
    }
    assert set(guarded) <= set(unguarded)
    for k, c in guarded.items():
        assert c == unguarded[k]  # bit-equal einsum contract


def test_semantic_dedup_on_skewed_fixture_agrees_with_exact(spark, skewed):
    """End-to-end keep/drop on the skewed fixture under the guard: every
    row decided, and the keep-set agrees with the exact tier (Jaccard
    >= 0.5 — the certification bar keep_set_agreement ships)."""
    from qafs_spark.pipeline.semdedup import keep_set_agreement

    df, _ = skewed
    exact = semantic_dedup(df, threshold=0.99, exact=True)
    approx = semantic_dedup(
        df, threshold=0.99, centroids=CENTS, max_cell_size=64
    )
    assert approx.count() == df.count()
    row = keep_set_agreement(exact, approx).first()
    assert row["agreement_ok"]


def test_auto_tier_default_cap_engages_on_oversized_cell(spark):
    """The DEFAULT semantic_pairs call carries the cap: with a tiny
    explicit quantizer that funnels everything into few cells, pairs
    still come back (completion is the point — pre-guard this shape is
    one unbounded task) and per-call plumbing (dedup of multiprobe
    copies) holds."""
    rng = random.Random(5)
    rows = [
        (
            i,
            _unit([1.0 + rng.gauss(0, 0.3)] + [rng.gauss(0, 0.3)] * (DIM - 1)),
        )
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = semantic_pairs(
        df, threshold=0.95, centroids=CENTS, max_cell_size=48
    )
    got = out.collect()
    assert len(got) == len({(r["id_a"], r["id_b"]) for r in got})  # deduped
    for r in got:
        assert r["id_a"] < r["id_b"]


def test_embedding_dedup_lsh_tier_hot_bucket_guard(spark):
    """Round 12: the LSH tier of embedding_dedup_pairs carries the same
    verified hot-group guard — 2^num_planes buckets is a FIXED fan-out,
    and a shared dominant direction concentrates sign patterns into few
    buckets. The guard's sub-planes use an independent seed, so they
    split a hyperplane bucket instead of replaying its prefix (same-seed
    planes would be constant within the bucket). Guarded pairs embed in
    the unguarded set with bit-equal cosines; planted clones survive."""
    from qafs_spark.pipeline.dedup import embedding_dedup_pairs

    rng = random.Random(17)
    rows = [
        (i, _unit([1.0 + rng.gauss(0, 0.3)] + [rng.gauss(0, 0.3)] * (DIM - 1)))
        for i in range(300)
    ]
    clones = [(1000 + i, [x + 1e-7 for x in rows[i][1]]) for i in range(12)]
    df = spark.createDataFrame(rows + clones, ["vec_id", "embedding"])
    kw = dict(threshold=0.995, use_lsh=True, num_planes=4, dim=DIM)
    unguarded = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_dedup_pairs(
            df, "embedding", "vec_id", max_cell_size=None, **kw
        ).collect()
    }
    guarded = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_dedup_pairs(
            df, "embedding", "vec_id", max_cell_size=48, **kw
        ).collect()
    }
    # the fixture must actually be hot: >48 rows share some bucket,
    # i.e. the unguarded call found pairs and the guard had to engage
    from qafs_spark.pipeline.similarity import (
        _self_pair_guard,
        hyperplane_bucket_batch,
        norm,
    )

    v = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        norm(F.col("embedding")).alias("__n"),
        hyperplane_bucket_batch(F.col("embedding"), DIM, 4, 42).alias("bucket"),
    )
    assert _self_pair_guard(v, "bucket", 48, DIM) is not None
    assert set(guarded) <= set(unguarded)
    for k, c in guarded.items():
        assert c == unguarded[k]  # bit-equal einsum contract
    planted = {(i, 1000 + i) for i in range(12)}
    assert planted <= set(guarded)  # clones share every guard sign


def test_guard_engagement_warns_once(spark, skewed):
    """Round-13 ADVICE fix: engaging the default-on cap changes the
    recall tier inside the flagged groups (sub-bucket splits can miss
    pairs at hamming > 2), so the FIRST engagement emits a one-time
    warning naming the cap and the worst group; later engagements and
    disengaged calls stay silent."""
    import warnings

    import qafs_spark.pipeline.similarity as sim
    from qafs_spark import obs

    df, _ = skewed
    v = _assigned(df)
    obs._warned.discard("similarity.guard_engaged")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert sim._self_pair_guard(v, "cell", 300, DIM) is not None
    msgs = [str(x.message) for x in w if "engaged" in str(x.message)]
    assert len(msgs) == 1 and "max_cell_size=300" in msgs[0]
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        assert sim._self_pair_guard(v, "cell", 300, DIM) is not None
    assert not [x for x in w2 if "engaged" in str(x.message)]
    # a disengaged guard never warns, reset or not
    obs._warned.discard("similarity.guard_engaged")
    with warnings.catch_warnings(record=True) as w3:
        warnings.simplefilter("always")
        assert sim._self_pair_guard(v, "cell", 100_000, DIM) is None
    assert not [x for x in w3 if "engaged" in str(x.message)]


def _blob_fixture(spark, n_blob=50_000, n_bg=50, seed=23):
    """>=50k near-identical rows (pairwise cosine ~1) landing in ONE
    cell — the irreducible case where the pair OUTPUT itself is
    quadratic (~1.25e9 pairs at 50k) and no candidate pruning can help.
    Background rows live in other cells, mutually far below threshold.
    Returns (df, blob_ids, bg_ids)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(seed)
    base = np.asarray(CENTS[0], dtype="float64")
    blob = base + rng.normal(0.0, 5e-4, size=(n_blob, DIM))
    blob /= np.linalg.norm(blob, axis=1, keepdims=True)
    bg = []
    for i in range(n_bg):
        v = np.asarray(CENTS[1 + i % 3], dtype="float64") + rng.normal(
            0.0, 0.45, size=DIM
        )
        bg.append(v / np.linalg.norm(v))
    ids = list(range(n_blob)) + [10_000_000 + i for i in range(n_bg)]
    vecs = [r.tolist() for r in blob] + [r.tolist() for r in bg]
    pdf = pd.DataFrame({"vec_id": ids, "embedding": vecs})
    return (
        spark.createDataFrame(pdf).repartition(8),
        set(range(n_blob)),
        set(10_000_000 + i for i in range(n_bg)),
    )


def test_star_mode_bounds_blob_pair_output(spark):
    """Round-13 verdict task 1 'done' criterion: on a planted 50k-row
    near-duplicate blob in one cell, star-mode pair output is O(n) —
    exactly the n-1 hub star, every edge a real >=threshold pair — and
    semantic_dedup (which opts into star internally) completes with the
    keep-set the exact tier would produce: the blob keeps only its
    min id, every background row keeps itself."""
    df, blob_ids, bg_ids = _blob_fixture(spark)
    n_blob = len(blob_ids)
    pairs = semantic_pairs(
        df, threshold=0.99, centroids=CENTS, max_cell_size=1024,
        pair_output="star",
    )
    got = pairs.collect()
    # O(n) bound, and in this pure-blob construction exactly the star:
    # hub = min id = 0; every other blob member is >=thr vs the hub
    assert len(got) == n_blob - 1
    assert {(r["id_a"], r["id_b"]) for r in got} == {
        (0, i) for i in sorted(blob_ids) if i != 0
    }
    for r in got:
        assert r["cosine"] >= 0.99
    dec = semantic_dedup(
        df, threshold=0.99, centroids=CENTS, max_cell_size=1024,
    )
    keeps = {r["id"] for r in dec.filter(F.col("keep")).collect()}
    assert keeps == {0} | bg_ids  # the analytic exact-tier keep-set
    assert dec.count() == n_blob + len(bg_ids)  # every row decided
    # fixture sanity: the background really is mutually far (its exact
    # pair set is empty), so the analytic keep-set IS the exact tier's
    bg = df.filter(F.col("vec_id") >= 10_000_000)
    assert semantic_pairs(bg, threshold=0.99, exact=True).count() == 0


def test_star_pairs_are_real_pairs_on_skewed_fixture(spark, skewed):
    """Star mode on the hot-but-diverse skewed fixture: every emitted
    pair is a true >=threshold pair with a cosine bit-equal to the
    exact tier's (the star hub edges use the same pinned einsum
    contract), and the keep-set still clears the exact-tier agreement
    bar with star as semantic_dedup's default."""
    from qafs_spark.pipeline.semdedup import keep_set_agreement

    df, _ = skewed
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_pairs(df, threshold=0.99, exact=True).collect()
    }
    star = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_pairs(
            df, threshold=0.99, centroids=CENTS, max_cell_size=64,
            pair_output="star",
        ).collect()
    }
    assert set(star) <= set(exact)
    for k, c in star.items():
        assert c == exact[k]
    ex_keep = semantic_dedup(df, threshold=0.99, exact=True)
    st_keep = semantic_dedup(
        df, threshold=0.99, centroids=CENTS, max_cell_size=64,
    )
    assert keep_set_agreement(ex_keep, st_keep).first()["agreement_ok"]


def test_flagged_group_means_exact_and_dim_flat_plan(spark):
    """Round-13 verdict task 3: the guard's per-flagged-cell means are
    computed by ONE mapInPandas partial-sum stage whose plan carries no
    per-component expressions — size flat in embedding dim (the old
    shape built `dim` codegen'd F.avg(vec[i]) aggregates, thousands at
    1536+). Pinned: exact agreement with numpy means at dim 512, and
    plan text that neither references vector components nor grows with
    dim."""
    import numpy as np
    import pandas as pd

    from qafs_spark.pipeline.similarity import (
        _flagged_group_means,
        _group_mean_partials,
    )

    def fixture(dim, n=300, seed=7):
        rng = np.random.RandomState(seed)
        vals = rng.normal(size=(n, dim))
        keys = [i % 5 for i in range(n)]
        pdf = pd.DataFrame(
            {"cell": keys, "vec": [v.tolist() for v in vals]}
        )
        return spark.createDataFrame(pdf).repartition(4), vals, np.array(keys)

    v512, vals, keys = fixture(512)
    means = _flagged_group_means(v512, "cell", [1, 3])
    assert set(means) == {1, 3}
    for k in (1, 3):
        grp = vals[keys == k]
        # partial sums then one divide: exact up to float fold order;
        # compare against the same fold (sum of per-partition sums is
        # within a few ulps of the global sum for gaussian data)
        np.testing.assert_allclose(
            means[k], grp.mean(axis=0), rtol=0, atol=1e-12
        )
    # plan-flat in dim: no vec[i] component references, and the dim-512
    # plan is no bigger than the dim-8 plan (same operators, same
    # expression count — only the array payload differs)
    v8, _, _ = fixture(8)
    p512 = _group_mean_partials(v512, "cell", [1, 3])._jdf.queryExecution(
    ).executedPlan().toString()
    p8 = _group_mean_partials(v8, "cell", [1, 3])._jdf.queryExecution(
    ).executedPlan().toString()
    assert "vec[" not in p512 and "avg(" not in p512
    assert p512.count("MapInPandas") == 1
    assert abs(len(p512) - len(p8)) < 100  # no per-dim growth


def test_embedding_dedup_lsh_star_passthrough(spark):
    """Round 13: the LSH tier of embedding_dedup_pairs plumbs
    ``pair_output="star"`` through to blocked_self_pairs — a planted
    identical-vector blob in one hyperplane bucket emits the min-id
    spanning star (n-1 hub edges) instead of ~n²/2 pairs, and every
    star edge is a real >=threshold pair."""
    from qafs_spark.pipeline.dedup import embedding_dedup_pairs

    rng = random.Random(31)
    base = _unit([1.0] + [0.2] * (DIM - 1))
    blob = [(i, [x + 1e-9 * i for x in base]) for i in range(400)]
    far = [
        (
            10_000 + i,
            _unit([rng.gauss(0, 1) for _ in range(DIM)]),
        )
        for i in range(40)
    ]
    df = spark.createDataFrame(blob + far, ["vec_id", "embedding"])
    kw = dict(
        threshold=0.999999, use_lsh=True, num_planes=4, dim=DIM,
        max_cell_size=64,
    )
    star = embedding_dedup_pairs(
        df, "embedding", "vec_id", pair_output="star", **kw
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in star}
    # the blob contributes exactly its hub star; no quadratic output
    blob_star = {(0, i) for i in range(1, 400)}
    assert blob_star <= got
    assert len(got) <= 399 + 40  # n-1 star + (unlikely) far-pair noise
    for r in star:
        assert r["cosine"] >= 0.999999


def _lost_edge_fixture(spark, n_blob, seed=23):
    """Round-14 verdict task 3: the adversarial star-mode case — a
    periphery row whose ONLY >=threshold edge is to a CORE member, not
    the hub, so star emission severs its path into the component.

    Geometry (threshold 0.9, all unit vectors, rotation plane spanned by
    e0 and u = normalized(e4+e5+e6+e7) — orthogonal to every other
    centroid, so everything stays in cell 0):

    * hub  = e0 exactly (id 0, the min-id hub of the flagged cell)
    * blob = n_blob-1 rows within ~11 deg of e0 (cos >= 0.98 vs hub —
      all core)
    * c    = 25 deg from hub  -> cos(c, hub) = 0.906 >= 0.9  (core)
    * p    = 50 deg from hub  -> cos(p, hub) = 0.643 <  0.9  (periphery)
             cos(p, c) = cos(25 deg) = 0.906 >= 0.9 — p's one real edge;
             cos(p, blob_i) <= cos(50-12 deg) ~ 0.78 < 0.9.

    Exact components: {hub, blob, c, p} via the p—c edge -> p is
    DROPPED. Star mode removes c from the pair population when it emits
    (hub, c), so (p, c) is never scored and p becomes its own kept
    cluster — the documented extra-keep deviation, planted precisely.

    Returns (df, p_id, exact_keep_ids)."""
    rng = random.Random(seed)
    u = _unit([0, 0, 0, 0, 1, 1, 1, 1])

    def rot(theta_deg, base_noise=0.0):
        t = math.radians(theta_deg)
        v = [
            math.cos(t) * (1.0 if j == 0 else 0.0) + math.sin(t) * u[j]
            for j in range(DIM)
        ]
        if base_noise:
            v = [x + rng.gauss(0, base_noise) for x in v]
        return _unit(v)

    rows = [(0, [1.0 if j == 0 else 0.0 for j in range(DIM)])]
    for i in range(1, n_blob):
        while True:
            v = rot(0, base_noise=0.03)
            if v[0] >= 0.98:  # keep every blob row core vs the hub
                break
        rows.append((i, v))
    c_id, p_id = n_blob, n_blob + 1
    rows.append((c_id, rot(25)))
    rows.append((p_id, rot(50)))
    # cold background in the other cells — spread kept small so no
    # background pair straddles a cell boundary above threshold (that
    # would be ordinary nprobe=1 quantizer loss, which this fixture
    # must NOT conflate with the star trade being measured)
    vid = 10_000
    for i in range(60):
        rows.append(
            (vid, _unit([rng.gauss(0, 0.15) + CENTS[1 + i % 3][j]
                         for j in range(DIM)]))
        )
        vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).coalesce(8)
    return df, p_id


@pytest.mark.parametrize("n_blob", [100, 300])
def test_star_lost_edge_deviation_is_exactly_extra_keeps(spark, n_blob):
    """Round-14 verdict task 3: the star-mode lost-edge trade, measured
    on a fixture built to hit it. Pinned across blob sizes:

    * direction — every exact-tier keep survives in star mode (the
      full-graph component minimum stays the minimum of whatever
      sub-component the lost edge leaves it in): extra keeps only,
      NEVER a false drop;
    * magnitude — the deviation is EXACTLY the planted periphery row
      (one extra kept near-duplicate), nothing else drifts."""
    df, p_id = _lost_edge_fixture(spark, n_blob)
    thr = 0.9
    exact = semantic_dedup(df, threshold=thr, exact=True)
    exact_keeps = {r["id"] for r in exact.filter(F.col("keep")).collect()}
    star = semantic_dedup(
        df, threshold=thr, centroids=CENTS, max_cell_size=64,
    )
    star_keeps = {r["id"] for r in star.filter(F.col("keep")).collect()}
    # fixture sanity: exact drops p (its p—c edge pulls it into the hub
    # component) and keeps the hub
    assert p_id not in exact_keeps and 0 in exact_keeps
    # direction: no false drops, ever
    assert exact_keeps <= star_keeps
    # magnitude: the planted lost-edge row is the WHOLE deviation
    assert star_keeps - exact_keeps == {p_id}
    # and the deviation is the STAR's, not the quantizer's: the same
    # IVF tier with full pair output matches exact keeps bit-for-bit
    full = semantic_dedup(
        df, threshold=thr, centroids=CENTS, max_cell_size=64,
        pair_output="full",
    )
    full_keeps = {r["id"] for r in full.filter(F.col("keep")).collect()}
    assert full_keeps == exact_keeps
    # both decide every row
    assert exact.count() == star.count() == df.count()

"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine.

Scale design notes (the reason each operator looks the way it does):

* **Exact** — ``groupBy(md5(text))``: map-side partial aggregation collapses
  duplicates before the shuffle; the shuffle carries one row per distinct
  hash.
* **MinHash+LSH** — per-doc signatures are computed inside whole-stage
  codegen (array expressions over md5-derived shingle hashes — NO Python,
  no ml.feature.MinHashLSH which would force a VectorUDT detour); candidate
  generation is a self-equi-join on band keys, so the only shuffle is by
  band key and truly similar docs co-locate. Pair verification computes
  exact Jaccard only on candidates.
* **SimHash** — 64-bit sketch; candidate generation uses the pigeonhole
  block trick (split the sketch into ``d+1`` blocks → pairs within hamming
  distance d must agree on ≥1 whole block), again an equi-join, never an
  all-pairs cross join.
* **n-gram Jaccard (exact)** — shingle-explode + self-join on shingle;
  quadratic only within identical-shingle groups. This is the oracle for the
  approximate variants.
* **Embedding cosine** — exact threshold join via hyperplane-LSH bucketing
  + verification; see :mod:`similarity` for the hyperplane machinery.

All hashing is md5-derived integer arithmetic (no engine-private hash
functions), so every operator is reproducible bit-for-bit in any SQL engine
— that's what makes the DuckDB oracles in ``__spark_entry__`` possible.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens

MERSENNE31 = 2_147_483_647  # 2^31 - 1, prime modulus for minhash perm hashes

#: default skew guards — ON by default since round 5. A naive caller at
#: corpus scale must not get the quadratic hot-bucket path; callers who need
#: bit-exact uncapped semantics pass ``None`` explicitly (the documented
#: exact mode). Values are chosen to be invisible at validation scales
#: (sf0.01 max band bucket = 5, max shingle doc-frac = 1.4%; sf0.1: 9 /
#: 0.5%) while bounding any single key's candidate contribution to
#: ~cap²/2 pairs at any corpus size.
DEFAULT_MAX_BAND_SIZE = 1000
DEFAULT_MAX_DOC_FRAC = 0.05
#: absolute floor for the "auto" df cap: fraction thresholds only make
#: sense in large corpora (in a 10-doc corpus every shingle exceeds 5%);
#: a shingle shared by <= 100 docs contributes <= ~5k join rows — harmless.
DEFAULT_MIN_HOT_DF = 100


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """One row per distinct content: (content_hash, rep_id=min id, n_dups)."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def drop_exact_dups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the min-id representative of each distinct content value."""
    reps = exact_dedup(df, content_col, id_col).select(
        F.col("rep_id").alias(id_col)
    )
    return df.join(reps, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# shingles + minhash
# ---------------------------------------------------------------------------
def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined), [] when fewer than n tokens."""
    t = tokens(col)
    # guard: sequence(1, 0) would generate a DESCENDING [1, 0] in Spark
    starts = F.sequence(F.lit(1), F.size(t) - (n - 1))
    grams = F.transform(starts, lambda i: F.array_join(F.slice(t, i, n), " "))
    return F.when(F.size(t) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(grams)
    )


def shingle_hashes(shingles: Column) -> Column:
    """32-bit integer hash per shingle: first 8 hex chars of md5 — exactly
    reproducible as ``('0x' || substr(md5(s),1,8))::BIGINT`` in SQL."""
    return F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )


def minhash_params(num_hashes: int, seed: int = 42) -> List[Tuple[int, int]]:
    """(a, b) pairs for the permutation hashes h_i(x) = (a*x + b) mod p.
    a,b < 2^30 and x < 2^32 keep a*x + b < 2^63 (no 64-bit overflow) —
    the same arithmetic holds in any BIGINT engine."""
    rs = np.random.RandomState(seed)
    a = rs.randint(1, 1 << 30, size=num_hashes)
    b = rs.randint(0, 1 << 30, size=num_hashes)
    return list(zip(a.tolist(), b.tolist()))


def minhash_signature(
    shingles: Column, num_hashes: int = 32, seed: int = 42
) -> Column:
    """Array of num_hashes minima; null-free only when shingles is non-empty
    (empty docs get an all-null signature — filter them first)."""
    return minhash_signature_from_hashes(shingle_hashes(shingles), num_hashes, seed)


def with_shingle_hashes(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, sh) with sh = distinct shingle hashes, computed through STAGED
    projections.

    Staging matters: higher-order-function lambdas re-evaluate their free
    sub-expressions per array element, so nesting tokenize→shingle→hash in
    one projection costs O(tokens²) regex splits per row (~10× slower
    measured). Each stage below binds its result to a column attribute that
    the next stage's lambdas reference as a plain array read.
    """
    from . import spread

    t = tokens(F.col(text_col))
    s1 = spread(df).select(F.col(id_col).alias("id"), t.alias("_tk"))
    tk = F.col("_tk")
    starts = F.sequence(F.lit(1), F.size(tk) - (n - 1))
    grams = F.transform(starts, lambda i: F.array_join(F.slice(tk, i, n), " "))
    s2 = s1.select(
        "id",
        F.when(F.size(tk) < n, F.array().cast("array<string>"))
        .otherwise(F.array_distinct(grams))
        .alias("_grams"),
    )
    return s2.select(
        "id", F.array_distinct(shingle_hashes(F.col("_grams"))).alias("sh")
    )


def _require_positive(**params: int) -> None:
    """Reject loop counts of 0 or less: ``sequence(1, 0)`` is the
    descending ``[1, 0]``, not an empty array, so they would yield
    plausible-looking signatures and band keys instead of none."""
    for name, value in params.items():
        if value <= 0:
            raise ValueError(f"{name} must be positive, got {value}")


def minhash_signature_from_hashes(
    hashes: Column, num_hashes: int = 32, seed: int = 42
) -> Column:
    # Loop form (round 17): the former ``F.array(*[array_min(transform)
    # for each of num_hashes permutations])`` unrolled num_hashes copies
    # of the permutation arithmetic into every plan that computes a
    # signature — its Janino compile dominated the projection's cost in
    # every fresh process (in-JVM A/B with the codegen cache disabled on
    # the full minhash pipeline: median 2.09 s → 1.32 s per compile+run,
    # signatures/band keys/pairs bit-identical —
    # plans/r17/minhash_loopform_ab.txt). The (a, b) permutation params
    # become two literal arrays (constant-folded by the optimizer) and
    # the signature one transform over sequence(1, num_hashes) — the
    # same num_hashes passes over the hash array at execution (both
    # forms are interpreted higher-order functions), ~1/32nd the
    # generated source.
    _require_positive(num_hashes=num_hashes)
    params = minhash_params(num_hashes, seed)
    a_arr = F.array(*[F.lit(a) for a, _ in params])
    b_arr = F.array(*[F.lit(b) for _, b in params])
    return F.transform(
        F.sequence(F.lit(1), F.lit(num_hashes)),
        lambda i: F.array_min(
            F.transform(
                hashes,
                lambda h: (F.element_at(a_arr, i) * h + F.element_at(b_arr, i))
                % F.lit(MERSENNE31),
            )
        ),
    )


def lsh_band_keys(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """Band keys "b|h1,h2,..": docs sharing any key become candidates.

    Loop form (round 17, same rationale and A/B as
    :func:`minhash_signature_from_hashes`): one transform over
    sequence(0, num_bands-1) instead of num_bands unrolled concat terms —
    identical keys (int-to-string casts match ``str(band)`` for the
    non-negative band indexes), ~1/num_bands the generated source."""
    _require_positive(num_bands=num_bands, rows_per_band=rows_per_band)
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda band: F.concat_ws(
            "|",
            band.cast("string"),
            F.array_join(
                F.transform(
                    F.slice(
                        signature,
                        band * F.lit(rows_per_band) + F.lit(1),
                        rows_per_band,
                    ),
                    lambda x: x.cast("string"),
                ),
                ",",
            ),
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))).cast(
        "double"
    )


def _shingle_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    max_doc_frac="auto",
) -> DataFrame:
    """Shared candidate machinery for the exact n-gram similarity family:
    ``(id_a, id_b, n_a, n_b, inter)`` for every pair sharing >= 1 retained
    shingle (id_a < id_b).

    Shingle-explode + self-equi-join on the shingle hash: candidate pairs
    are generated only where docs actually share a shingle, and the
    intersection size falls out of the join group count — no array
    intersection on the data path. The join shuffles by shingle hash.

    **Skew hardening (ON by default)**: hot shingles (boilerplate n-grams
    present in a large fraction of the corpus) are the skew risk — a shingle
    shared by f docs contributes O(f²) join rows. ``max_doc_frac`` switches
    to *df-capped Jaccard*: shingles whose document frequency exceeds the
    cap are dropped from both candidate generation AND the similarity
    itself (the standard stop-shingle treatment: ubiquitous grams carry no
    near-dup signal, so the cap improves precision as well as killing the
    quadratic blow-up). The hot set is tiny by construction (few shingles
    can exceed a corpus-fraction bound) → broadcast anti-join; per-doc
    sizes are then re-counted over the retained shingles so Jaccard stays
    exact w.r.t. the capped universe.

    ``max_doc_frac`` modes:

    * ``"auto"`` (default) — drop shingles with
      ``df > max(DEFAULT_MIN_HOT_DF, n_docs * DEFAULT_MAX_DOC_FRAC)``.
      The absolute floor makes the guard a provable no-op on small corpora
      (and at the sf0.01/sf0.1 validation scales — hottest observed shingle
      is 1.4% of docs, far under 5%) while still bounding any shingle's
      join contribution at corpus scale.
    * float ``x`` — pure fraction semantics, ``df > x * n_docs`` (no
      floor); this is what the ``ngram_jaccard_capped`` DuckDB oracle
      replays bit-for-bit.
    * ``None`` — **exact mode**: no cap at all; bit-exact textbook n-gram
      Jaccard. Only safe when the caller knows the corpus has no
      boilerplate-scale hot shingles; residual skew rides on AQE skew-join.
    """
    base = with_shingle_hashes(df, text_col, id_col, n)
    if max_doc_frac is not None:
        exploded = base.select("id", F.explode("sh").alias("h"))
        total = base.agg(F.count(F.lit(1)).alias("__n_docs"))
        if max_doc_frac == "auto":
            cutoff = F.greatest(
                F.lit(float(DEFAULT_MIN_HOT_DF)),
                F.col("__n_docs") * F.lit(DEFAULT_MAX_DOC_FRAC),
            )
        else:
            cutoff = F.col("__n_docs") * F.lit(float(max_doc_frac))
        hot = (
            exploded.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("df").cast("double") > cutoff)
            .select("h")
        )
        kept = exploded.join(F.broadcast(hot), "h", "left_anti")
        counts = kept.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        sh = kept.join(counts, "id").select("id", "h", "n_sh")
    else:
        sh = base.select(
            "id",
            F.explode("sh").alias("h"),
            F.size("sh").alias("n_sh"),
        )
    # Persist the exploded shingle frame (round 17). Two reasons, both
    # measured on the downstream jaccard/containment consumers:
    # (1) a threshold filter on the similarity column makes the
    #     optimizer infer IsNotNull over n_sh and push it through the
    #     staged projections ALL THE WAY INTO THE SCAN FILTER — where it
    #     re-nests the entire tokenize+shingle+md5 expression per input
    #     row, on BOTH join sides (the exact re-nesting trap
    #     minhash_lsh_dedup's token-count-filter comment documents;
    #     measured 0.8 s → 4.9 s warm for ngram_jaccard_pairs at sf0.1).
    #     The materialization boundary stops that pushdown cold.
    # (2) the self-join references `sh` twice, and at estimate sizes
    #     where the planner broadcasts one side the shingle subtree is
    #     computed twice; from the cache each side is a scan.
    # MEMORY_AND_DISK: spills, never drops. The frame is the shuffle
    # input the join pays for anyway — at scale you'd materialize it
    # once (write out or cache) for the same two reasons.
    from pyspark import StorageLevel

    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_frac="auto",
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (id_a < id_b, jaccard >= t);
    see :func:`_shingle_pair_counts` for the candidate machinery and the
    skew-guard semantics (``max_doc_frac``)."""
    pairs = _shingle_pair_counts(df, text_col, id_col, n, max_doc_frac)
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    return (
        pairs.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_frac="auto",
) -> DataFrame:
    """EXACT n-gram CONTAINMENT near-dup pairs (Broder '97's asymmetric
    resemblance): ``containment = |A∩B| / min(|A|, |B|)`` — the smaller
    document's coverage by the larger. Catches the superset/quotation
    duplicates symmetric Jaccard structurally misses: a doc fully embedded
    in a 10× larger doc scores Jaccard ≈ 0.1 but containment 1.0. Same
    candidate machinery, shuffle profile, and skew guard as
    :func:`ngram_jaccard_pairs`; same (id_a < id_b) output orientation
    with a ``containment`` column."""
    pairs = _shingle_pair_counts(df, text_col, id_col, n, max_doc_frac)
    cont = F.col("inter").cast("double") / F.least(
        F.col("n_a"), F.col("n_b")
    ).cast("double")
    return (
        pairs.select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    max_band_size: Optional[int] = DEFAULT_MAX_BAND_SIZE,
) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    Output schema matches :func:`ngram_jaccard_pairs`; with enough bands for
    the threshold it converges to the exact result with high probability.

    ``max_band_size`` (default ``DEFAULT_MAX_BAND_SIZE=1000``, ON) caps hot
    band keys: a band bucket holding f docs emits O(f²) candidate pairs,
    and a pathological key (e.g. the all-identical signature of
    boilerplate-only docs) turns the candidate join quadratic. Buckets
    larger than the cap are dropped entirely (the standard LSH
    oversized-bucket skip — their members are either exact duplicates, which
    :func:`exact_dedup` already collapses upstream, or hash collisions that
    verification would reject). Recall loss is bounded to pairs whose ONLY
    agreeing band is oversized; at validation scales the cap is invisible
    (largest observed bucket: 5 at sf0.01, 9 at sf0.1). Pass ``None`` for
    the **exact mode** (no skip) when the corpus is known dup-collapsed.
    """
    rows_per_band = num_hashes // num_bands
    # work on distinct shingle HASHES end-to-end (signature AND verification)
    # so jaccard values agree exactly with hash-based exact computations.
    # Empty-shingle docs are dropped with a token-count filter at the SCAN
    # (one split per row) — a post-hoc size(sh)>0 filter would get
    # predicate-pushed through the staged projections and re-nest the whole
    # shingle expression inside the filter (measured ~7× slower).
    nonempty = df.filter(F.size(tokens(F.col(text_col))) >= n)
    base = with_shingle_hashes(nonempty, text_col, id_col, n)
    return _minhash_pairs(
        base, num_hashes, num_bands, rows_per_band, threshold, seed,
        max_band_size=max_band_size,
    )


def _minhash_pairs(
    base: DataFrame, num_hashes: int, num_bands: int, rows_per_band: int,
    threshold: float, seed: int, max_band_size: Optional[int] = None,
) -> DataFrame:
    # The plan references `base` three times (signature build + both
    # verify sides) and `banded` three times (bucket-size guard + both
    # candidate self-join sides); none of the references share an
    # exchange (the small sides broadcast), so without materialization
    # every reference re-runs the tokenize+shingle+md5 scan, and every
    # banded reference re-runs the 32-permutation signature on top
    # (round 17 profile at sf1: 4 full scans, 0 ReusedExchange). Persist
    # both — (id, sh) and the far smaller (id, band) — so the shingle
    # pass and the signature pass each run ONCE per action.
    # MEMORY_AND_DISK: spills, never silently drops and recomputes.
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    with_sig = base.select(
        "id", minhash_signature_from_hashes(F.col("sh"), num_hashes, seed).alias("sig")
    )
    # band join carries (id, band) ONLY — carrying the shingle arrays through
    # the num_bands-way explode would multiply shuffle bytes by the band
    # count; shingles are re-joined just for the surviving candidate pairs
    banded = with_sig.select(
        "id",
        F.explode(lsh_band_keys(F.col("sig"), num_bands, rows_per_band)).alias("band"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    if max_band_size is not None:
        # oversized-bucket skip: the hot-key set is tiny → broadcast anti-join
        big = (
            banded.groupBy("band")
            .agg(F.count(F.lit(1)).alias("bn"))
            .filter(F.col("bn") > max_band_size)
            .select("band")
        )
        banded = banded.join(F.broadcast(big), "band", "left_anti")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verif = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        verif.select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------
SIMHASH_BITS = 60  # 15 hex chars of md5 → fits a signed 64-bit long


def simhash(col: Column) -> Column:
    """60-bit SimHash over whitespace tokens (md5-derived token hashes).

    Computed as array expressions per row (no explode/shuffle): for each bit,
    sum +1/-1 votes across token hashes, set the bit if the sum is positive.

    NOTE: prefer :func:`simhash_from_token_hashes` over a staged token-hash
    column in hot paths — nesting the md5 transform under the 60 per-bit
    aggregates re-evaluates it per bit.
    """
    return simhash_from_token_hashes(token_hashes(col))


def token_hashes(col: Column) -> Column:
    """60-bit md5-derived hash per whitespace token."""
    return F.transform(
        tokens(col),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )


def simhash_from_token_hashes(th: Column) -> Column:
    def voter(b: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bits = []
    for b in range(SIMHASH_BITS):
        vote = F.aggregate(th, F.lit(0).cast("long"), voter(b))
        bits.append(F.when(vote > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for piece in bits[1:]:
        out = out + piece
    return out


_PACK_FIELDS = 3          # 21-bit counters, 3 per 64-bit sum
_PACK_WIDTH = 21          # docs must have < 2^21 (~2M) tokens (no carry-over)


def simhash_table(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, sh) sketches via explode + codegen hash aggregate.

    The array-expression :func:`simhash` runs 60 interpreted per-bit
    aggregates per row (higher-order functions don't codegen); this variant
    explodes token hashes and computes the bit-counts as plain ``sum``
    aggregates inside whole-stage codegen — measured ~10× faster. The
    counters are additionally PACKED three-per-long (21 bits each): 20
    aggregate buffers instead of 60 roughly halves the hash-agg update cost
    (measured ~1.5× on the sketch stage). Per-field capacity bounds docs at
    2^21 tokens — far beyond any real document. Bit b of the final sketch is
    set iff most tokens set it: ``2*cnt_b > n``, identical to the ±1-vote
    formulation. Map-side partial aggregation collapses each doc to one row
    before the shuffle. Docs with zero tokens are absent from the output
    (explode drops them) — filter/union them separately if their all-zero
    sketch matters.
    """
    from . import spread

    df = spread(df)
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(token_hashes(F.col(text_col))).alias("h")
    )
    n_packs = (SIMHASH_BITS + _PACK_FIELDS - 1) // _PACK_FIELDS
    packs = []
    for j in range(n_packs):
        expr = None
        for k in range(_PACK_FIELDS):
            b = j * _PACK_FIELDS + k
            if b >= SIMHASH_BITS:
                break
            bit = F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)).cast("long")
            piece = F.shiftleft(bit, _PACK_WIDTH * k)
            expr = piece if expr is None else expr + piece
        packs.append(F.sum(expr).alias(f"_p{j}"))
    votes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("_n"), *packs)
    mask = (1 << _PACK_WIDTH) - 1
    # Loop-form bit extraction (round 17): the former 60 UNROLLED
    # branchless shift/add terms were dominated by their Janino compile —
    # every fresh process paid it once per plan (in-JVM A/B with the
    # codegen cache disabled: median 2.36 s → 1.48 s per compile+run,
    # sketches and pairs bit-identical — plans/r17/simhash_extract_ab.txt).
    # One aggregate() over sequence(0,59) against the packs gathered into
    # an array generates a fixed-size loop instead. The fold body is
    # interpreted per element, but it runs on ONE row per doc post-
    # aggregate — per-doc cost is 60 tiny long ops, invisible next to the
    # per-token md5 tokenize upstream at any scale. Bit b: counter
    # ``(_p[b div 3] >> 21*(b mod 3)) & mask``, then the same branchless
    # majority vote (sign bit of ``_n - 2*cnt``) shifted into place.
    # ``b div 3`` is SQL integer division; call_function("div"/
    # "shiftright"/"shiftleft") is the column-operand spelling the python
    # API hides.
    ps = F.array(*[F.col(f"_p{j}") for j in range(n_packs)])

    def _fold(acc, b):
        bi = b.cast("int")
        k = bi % F.lit(_PACK_FIELDS)
        j = F.call_function("div", bi, F.lit(_PACK_FIELDS)).cast("int")
        cnt = F.call_function(
            "shiftright",
            F.element_at(ps, j + F.lit(1)),
            (k * F.lit(_PACK_WIDTH)).cast("int"),
        ).bitwiseAND(F.lit(mask))
        bit = F.shiftright(F.col("_n") - cnt * F.lit(2), 63).bitwiseAND(F.lit(1))
        return acc + F.call_function("shiftleft", bit, bi)

    sketch = F.aggregate(
        F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
        F.lit(0).cast("long"),
        _fold,
    )
    return votes.select("id", sketch.alias("sh"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_distance: int = 3,
) -> DataFrame:
    """Pairs with SimHash hamming distance <= d.

    Pigeonhole candidates: split the sketch into d+1 blocks; any pair within
    distance d agrees exactly on at least one block → equi-join per block,
    union, verify. Never an all-pairs cross join.
    """
    n_blocks = max_distance + 1
    block_bits = SIMHASH_BITS // n_blocks
    s = simhash_table(df, text_col, id_col)
    # one explode of (blk, key) structs — a per-block union would recompute
    # the sketch once per block (measured n_blocks× slower)
    block_structs = []
    for i in range(n_blocks):
        width = block_bits if i < n_blocks - 1 else SIMHASH_BITS - block_bits * (n_blocks - 1)
        mask = (1 << width) - 1
        block_structs.append(
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright(F.col("sh"), i * block_bits)
                .bitwiseAND(F.lit(mask))
                .alias("key"),
            )
        )
    all_blocks = s.select(
        "id", "sh", F.explode(F.array(*block_structs)).alias("bk")
    ).select("id", "sh", F.col("bk.blk").alias("blk"), F.col("bk.key").alias("key"))
    # Self-join as a SHUFFLE hash join, not broadcast: with identical
    # children hashed on the same keys, Catalyst plans the second side as a
    # ReusedExchange — the sketch (explode + 60-bit-vote aggregate, the
    # expensive part) is computed ONCE and shuffled once. A broadcast join
    # would recompute the whole sketch subplan for the build side (and
    # couldn't ship a 100 TB corpus's sketch table anyway).
    a, b = all_blocks.alias("a"), all_blocks.hint("shuffle_hash").alias("b")
    # Verify BEFORE deduplicating: the hamming check is two bit-ops on
    # columns the join already carries, while dropDuplicates is a keyed
    # aggregate over every candidate row. Hot block keys make candidates
    # quadratic-within-key (277k pairs from 5k word-salad docs at sf0.1),
    # so filtering first shrinks the aggregate to the true-positive set.
    # (minhash_pairs keeps the opposite order deliberately — its verify is
    # an expensive array-intersect join, so it dedups ids first.)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sh"), F.col("b.sh")).alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------
# The exact tier materializes the whole corpus as ONE applyInPandas group
# in ONE task (quadratic in-task scoring) — fine for the documented
# small-corpus oracle contract, pathological on an uncapped public call.
# Matches semdedup.DEFAULT_TARGET_CELL_SIZE, the short-circuit bound its
# internal callers enforce with a real count.
EXACT_TIER_WARN_ROWS = 4096


def embedding_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    use_lsh: bool = True,
    num_planes: int = 8,
    seed: int = 42,
    dim: Optional[int] = None,
    max_cell_size: Optional[int] = 4096,
    pair_output: str = "full",
    _known_small: bool = False,
) -> DataFrame:
    """Pairs of near-identical embeddings (cosine >= threshold).

    With use_lsh, candidates come from hyperplane-sign buckets (vectors at
    cosine >= 0.95 almost always share the full sign pattern for few planes);
    exact cosine verifies. use_lsh=False does the exact quadratic join —
    the oracle path for small data. Pass ``dim`` explicitly to keep plan
    construction job-free (the ``.first()`` fallback runs a driver job).

    The bucket stage is Arrow-batched (round 10,
    :func:`similarity.hyperplane_bucket_batch` — one matmul per batch
    instead of num_planes interpreted HOF dots per row), and the LSH
    tier's pair scoring is BLOCKED per bucket (round 11,
    :func:`similarity.blocked_self_pairs` — Arrow volume linear in
    rows, not candidate pairs; cosine bits unchanged). No oracle
    replays the LSH path (every catalog/semdedup caller uses
    ``use_lsh=False``, which keeps the SQL-replayable join shape).

    ``max_cell_size`` (round 12): 2^num_planes buckets is a FIXED fan-out
    — at 100M+ rows even uniform sign patterns put ~n/256 rows in one
    bucket, and clustered embeddings concentrate further — so the LSH
    tier carries the same verified hot-group guard as
    ``semantic_pairs`` (:func:`similarity._self_pair_guard`; its
    sub-planes use an independent seed, so they split hyperplane
    buckets rather than replaying their prefix). Under the cap the plan
    and pair set are bit-identical; ``None`` disables.

    ``pair_output`` (round 13): ``"star"`` bounds the pair OUTPUT of
    over-cap buckets to a min-id spanning star (hub-verified real
    pairs) — for connected-components consumers
    (:func:`dedup_clusters`/:func:`cluster_pairs`) only; the default
    preserves full pair semantics (see
    :func:`similarity.blocked_self_pairs`)."""
    from .similarity import (
        blocked_self_pairs,
        hyperplane_bucket_batch,
        norm,
    )

    # Validate pair_output HERE, not just inside blocked_self_pairs: the
    # exact-join branch (use_lsh=False) never sees it, so without this a
    # caller passing pair_output="star" there got a silent no-op
    # (round-13 ADVICE). Star output is defined per hot BUCKET — the
    # exact path has no buckets, so there is nothing it could mean.
    if pair_output not in ("full", "star"):
        raise ValueError(
            f"pair_output must be 'full' or 'star', got {pair_output!r}"
        )
    if pair_output == "star" and not use_lsh:
        raise ValueError(
            "pair_output='star' bounds over-cap LSH-bucket output and "
            "requires use_lsh=True; the exact join (use_lsh=False) "
            "always emits full pairs"
        )

    # norms staged once per ROW (bit-equal to per-pair cosine, ~3x fewer
    # array aggregates in the quadratic pair stage — see cosine_pre)
    v = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        norm(F.col(vec_col)).alias("__n"),
    )
    if use_lsh:
        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        v = v.withColumn(
            "bucket",
            hyperplane_bucket_batch(F.col("vec"), dim, num_planes, seed),
        )
        return blocked_self_pairs(
            v, "bucket", threshold, max_cell_size=max_cell_size, dim=dim,
            pair_output=pair_output,
        )
    if not _known_small:
        # Round-17 guard (r16 verdict): the exact tier serializes the
        # whole corpus through one task — warn a direct caller whose
        # input exceeds the documented small-corpus cap BEFORE launching
        # a single-task quadratic kernel. Bounded probe, never a full
        # count: limit(cap+1) short-circuits the scan. Internal callers
        # that just counted the corpus (semantic_pairs' short-circuit)
        # skip it via _known_small.
        probe = df.select(id_col).limit(EXACT_TIER_WARN_ROWS + 1).count()
        if probe > EXACT_TIER_WARN_ROWS:
            import warnings

            warnings.warn(
                f"embedding_dedup_pairs(use_lsh=False): corpus exceeds "
                f"{EXACT_TIER_WARN_ROWS} rows — the exact tier scores "
                "all pairs in ONE task (quadratic work, no skew guard). "
                "This tier is the small-corpus oracle path; use the "
                "default LSH tier or semantic_pairs' auto-IVF tier at "
                "scale.",
                stacklevel=2,
            )
    # Exact all-pairs via the blocked scorer (round 16): the former
    # self-join shipped BOTH vectors per PAIR through Arrow —
    # O(pairs·dim) boundary bytes (≈2 GB at just 2000×64-dim vectors) —
    # where one constant-key blocked group ships each vector once and
    # scores chunked einsum blocks, O(rows·dim). Cosine bits are
    # IDENTICAL (same float64 promotion, same fixed-order einsum
    # reduction — the round-11 parity contract, re-verified bit-for-bit
    # against the join shape on the full fixture pair set), and both
    # shapes apply the same >= threshold filter, so every oracle replay
    # is unaffected. Single-group serialization is fine by contract:
    # this tier is the small-corpus oracle path (callers cap it at
    # target_cell_size rows; the scale tiers shard by bucket/cell).
    return blocked_self_pairs(
        v.withColumn("__cell", F.lit(0)), "__cell", threshold,
        max_cell_size=None,
    )


def _round_materializer(spark, checkpoint_dir: Optional[str]):
    """(materialize, release) pair for iterate-to-fixed-point loops:
    eager lineage truncation per round via localCheckpoint
    (executor-local blocks — fast, not fault-tolerant) or, with a
    ``checkpoint_dir``, durable per-round parquet (the cluster-grade
    form; an executor loss resumes from storage). The LAST round's copy
    backs the returned frame — the caller owns the dir's lifecycle."""
    from .. import storage as fs_storage

    def materialize(df: DataFrame, rnd: int) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        path = fs_storage.join(checkpoint_dir, f"round={rnd}")
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    def release(df: DataFrame, rnd: int) -> None:
        if checkpoint_dir is None:
            df.unpersist()
        else:
            fs_storage.delete_path(
                spark, fs_storage.join(checkpoint_dir, f"round={rnd}")
            )

    return materialize, release


def cluster_pairs(
    pairs: DataFrame,
    k_iters: int = 3,
    id_a: str = "id_a",
    id_b: str = "id_b",
    cache_edges: bool = True,
    converge: bool = False,
    max_converge_iters: int = 50,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Connected-component labels for near-dup pairs: (id, cluster) with
    cluster = min id reachable within ``k_iters`` hops (min-label
    propagation). After enough iterations this IS the connected component
    (near-dup clusters have tiny diameters — duplicates of a doc are
    duplicates of each other — so 3 hops is usually exact); the fixed
    iteration count keeps the operator deterministic and SQL-replayable.

    **On a long-chain graph the fixed hop count is silently wrong** — a
    path of length > k_iters splits into several labels. ``converge=True``
    switches to iterate-to-fixed-point: rounds run until a round changes
    zero labels (checked with one cheap driver-side count per round,
    early-exit), up to ``max_converge_iters`` (raises if still moving —
    a diameter that large means the input is not a near-dup pair list).
    Min-label propagation converges in O(diameter) rounds; each round's
    labels are persisted and the previous round unpersisted, so lineage
    stays one-round deep (no plan blow-up, resilient at any diameter).

    Scale shape per iteration: one join of the (id, label) frame with the
    undirected edge list + one min-aggregate — hash-shuffles keyed the
    same way every round, so the physical plan reuses the edge exchange
    across rounds. The stored edge list holds at most 2|pairs| + |V| rows
    (both orientations plus one self-loop per vertex — the self-loops fold
    "own label" into the neighbor min so a round references the label
    frame ONCE and the unrolled plan stays linear in ``k_iters``). In the
    default fixed-k mode iterations are plan unrolling (no driver loop
    state): the whole propagation is ONE lazy plan.
    """
    if not converge:
        # Self-loop reformulation of the unrolled fixed-k propagation
        # (round 17). The textbook round references the label frame TWICE
        # (neighbor min-aggregate + the outer join carrying each node's own
        # label), so k unrolled rounds duplicate the previous round's
        # subtree 2^k times — plan size, analysis time and codegen all grow
        # exponentially in k. Adding a (v, v) self-loop per vertex folds
        # "own label" into the neighbor set:
        #
        #   label_r(v) = min over (v,u) in E ∪ {(v,v)} of label_{r-1}(u)
        #              = min(label_{r-1}(v), min over neighbors)  -- identical
        #
        # so one round is ONE join + ONE min-aggregate, a single reference
        # to the labels frame, and the whole unrolled plan is linear in k.
        # The extended edge list is built with one explode pass over the
        # pair frame (pairs is referenced ONCE — the old symmetric union
        # referenced it twice) and one distinct: both edge orientations
        # plus both endpoints' self-loops, deduped together. Round 1 needs
        # no join at all: labels_0(u) = u, so it is min(dst) grouped by src.
        ext = (
            pairs.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col(id_a).alias("src"), F.col(id_b).alias("dst")
                        ),
                        F.struct(
                            F.col(id_b).alias("src"), F.col(id_a).alias("dst")
                        ),
                        F.struct(
                            F.col(id_a).alias("src"), F.col(id_a).alias("dst")
                        ),
                        F.struct(
                            F.col(id_b).alias("src"), F.col(id_b).alias("dst")
                        ),
                    )
                ).alias("e")
            )
            .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
            .distinct()
        )
        if cache_edges:
            # every iteration references the edge list: without
            # materialization Spark recomputes the upstream pair
            # generation once per round — for near-dup pairs that is the
            # whole shingle join, k_iters times over. On a cluster you'd
            # write the edge list out once; persist is the one-job
            # analogue.
            from pyspark import StorageLevel

            ext = ext.persist(StorageLevel.MEMORY_AND_DISK)
        if k_iters <= 0:
            return ext.filter(F.col("src") == F.col("dst")).select(
                F.col("src").alias("id"), F.col("src").alias("cluster")
            )
        labels = (
            ext.groupBy("src")
            .agg(F.min("dst").alias("cluster"))
            .select(F.col("src").alias("id"), "cluster")
        )
        for _ in range(k_iters - 1):
            labels = (
                ext.alias("e")
                .join(labels.alias("l"), F.col("e.dst") == F.col("l.id"))
                .groupBy(F.col("e.src"))
                .agg(F.min(F.col("l.cluster")).alias("cluster"))
                .select(F.col("src").alias("id"), "cluster")
            )
        return labels

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    if cache_edges:
        # every round references `edges`; see the fixed-k branch's note
        from pyspark import StorageLevel

        edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    labels = edges.select("src").distinct().select(
        F.col("src").alias("id"), F.col("src").alias("cluster")
    )

    def one_round(labels: DataFrame) -> DataFrame:
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster").alias("n_min"))
        )
        return (
            labels.join(neigh, labels.id == neigh.src, "left")
            .select(
                "id",
                F.col("cluster").alias("_prev"),
                F.least(
                    F.col("cluster"), F.coalesce(F.col("n_min"), F.col("cluster"))
                ).alias("cluster"),
            )
        )

    # fixed-point loop. Lineage MUST be truncated each round with an eager
    # materialization: labels appear twice in every round's plan (neighbor
    # aggregate + outer join), so without truncation the LOGICAL plan grows
    # 2^rounds nodes and analysis itself OOMs the driver around round ~8 —
    # persist alone does not help, cache substitution happens after the
    # full plan is built. Default truncation is localCheckpoint
    # (executor-local blocks — fast, NOT fault-tolerant); passing
    # ``checkpoint_dir`` writes each round's labels to parquet instead,
    # the cluster-grade durable form (an executor loss mid-propagation
    # resumes from storage, and the label table is inspectable) — same
    # loop, different materialization. Min-labels only ever decrease, so
    # "changed" is exactly `cluster < _prev` and zero changes is the exact
    # connected-components fixed point.
    spark = pairs.sparkSession
    materialize, release = _round_materializer(spark, checkpoint_dir)
    prev = materialize(labels, 0)
    labels = prev
    prev_rnd = 0
    for rnd in range(1, max_converge_iters + 1):
        upd = materialize(one_round(labels), rnd)
        changed = upd.filter(F.col("cluster") < F.col("_prev")).count()
        labels = upd.select("id", "cluster")
        # upd is eagerly materialized in its own checkpoint blocks/files,
        # so the previous round's copy is dead — free it now rather than
        # waiting for driver GC (storage would otherwise grow
        # O(rounds · |V|) across the loop). The LAST round's parquet is
        # the returned frame's backing store; the caller owns
        # checkpoint_dir's lifecycle.
        release(prev, prev_rnd)
        prev, prev_rnd = upd, rnd
        if changed == 0:
            if cache_edges:
                # the returned labels are checkpoint-backed and no longer
                # reference the edge list
                edges.unpersist()
            return labels
    raise ValueError(
        f"cluster_pairs(converge=True) did not converge in {max_converge_iters} "
        "rounds — the pair graph has a component diameter that large, which "
        "is not a near-dup cluster shape; raise max_converge_iters to force it "
        "(or use cluster_pairs_star, whose round count is O(log n) regardless "
        "of diameter)"
    )


def cluster_pairs_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 40,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Connected-component labels via alternating large-star / small-star
    rounds — (id, cluster) with cluster = the component's min id,
    bit-identical to ``cluster_pairs(converge=True)`` but in **O(log n)
    rounds on ANY graph shape** instead of O(diameter).

    The published MapReduce CC algorithm (Kiveris, Lattanzi, Mirrokni,
    Rastogi, Vassilvitskii — "Connected Components in MapReduce and
    Beyond", SoCC'14): each round,

    - **large-star**: every node links its strictly-LARGER neighbors to
      the minimum of its closed neighborhood;
    - **small-star**: every node links its not-larger neighbors (and
      itself) to that minimum.

    Components contract toward a star rooted at their minimum node; a
    path of length 2^k collapses in ~k rounds, where min-label
    propagation needs 2^k. Per round: two groupBy-min aggregates, two
    id-equi joins, and a distinct over a SHRINKING edge set — no window
    functions, no driver-side data. Round outputs are materialized (see
    :func:`_round_materializer`) so lineage stays one round deep;
    stability is detected with a count + order-insensitive hash of the
    canonically-oriented edge set (one cheap aggregate per round).

    Use this over ``converge=True`` when the pair graph can contain long
    chains (e.g. transitive near-dup spans across a crawl) — the
    long-chain case where fixed-k silently splits and converge-mode
    needs one round per hop.

    Ids appearing ONLY in self-pairs (``id_a == id_b``) are isolated
    nodes: they carry no edges through the star rounds, so the output is
    seeded with every distinct input endpoint — such ids label
    themselves, exactly as ``cluster_pairs`` emits (id, id) for them.
    """
    spark = pairs.sparkSession
    materialize, release = _round_materializer(spark, checkpoint_dir)
    all_ids = (
        pairs.select(F.col(id_a).alias("id"))
        .union(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )

    def canon(e: DataFrame) -> DataFrame:
        return (
            e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def signature(e: DataFrame):
        # bit_xor is commutative and can't overflow under ANSI mode; the
        # edge set is distinct so xor-cancellation can't hide a change
        # that count doesn't catch
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    def large_star(e: DataFrame) -> DataFrame:
        und = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = und.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            und.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        hi_lo = canon(e)  # u > v for every row
        m = hi_lo.groupBy("u").agg(F.min("v").alias("m"))  # m < u always
        return (
            hi_lo.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    edges = canon(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    )
    prev = materialize(edges, 0)
    prev_sig = signature(prev)
    cur, cur_rnd = prev, 0
    for rnd in range(1, max_rounds + 1):
        # small_star's output is already canonically oriented (u > v)
        # and distinct — no extra normalization shuffle needed
        nxt = materialize(small_star(large_star(cur)), rnd)
        sig = signature(nxt)
        release(cur, cur_rnd)
        cur, cur_rnd = nxt, rnd
        if sig == prev_sig:
            # fixed point: edges are (child, root) stars; emit the roots'
            # own labels too, and seed every input endpoint (isolated
            # self-pair-only ids label themselves; for star nodes the
            # root is the component min, so min() leaves them unchanged)
            return (
                cur.select(F.col("u").alias("id"), F.col("v").alias("cluster"))
                .unionByName(
                    cur.select(
                        F.col("v").alias("id"), F.col("v").alias("cluster")
                    )
                )
                .unionByName(all_ids.withColumn("cluster", F.col("id")))
                .groupBy("id")
                .agg(F.min("cluster").alias("cluster"))
            )
        prev_sig = sig
    raise ValueError(
        f"cluster_pairs_star did not stabilize in {max_rounds} rounds — "
        "rounds needed are O(log n), so this indicates ids beyond any "
        "realistic corpus size; raise max_rounds"
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_tokens: int = 8,
) -> DataFrame:
    """Cross-document duplicated-SPAN report — the bounded exact-substring
    dedup audit (Lee et al. '22 "Deduplicating Training Data Makes
    Language Models Better" find such spans with a suffix array; the
    bounded-L formulation is distributable): every maximal run of token
    positions covered by some ``min_tokens``-gram that occurs in >= 2
    DISTINCT documents. Output ``(id, span_start, span_end, n_tokens)``
    with 1-based inclusive token positions; overlapping AND touching gram
    hits merge into one span (a hit starting at ``prev_end + 1`` extends
    the current island — the covered token run is contiguous), so only a
    genuine coverage gap starts a new island. That matches the "maximal
    covered run" framing exactly.

    Plan shape: one staged projection builds each doc's (pos, gram-hash)
    struct array (tokenize once, hash inside codegen), posexplode-free
    explode carries positions; the duplicated-gram set is a
    map-side-combined ``count_distinct(id) >= 2`` aggregate keyed by hash
    (the word-count skew profile); hits semi-join that set; the island
    merge is two windows PARTITIONED BY doc (bounded per-doc work, no
    global window) + one final per-island aggregate. All hashing is the
    md5 idiom, so the whole report replays exactly in SQL."""
    from pyspark.sql import Window

    from . import spread

    L = min_tokens
    t = tokens(F.col(text_col))
    s1 = spread(df).select(F.col(id_col).alias("id"), t.alias("_tk"))
    tk = F.col("_tk")
    starts = F.sequence(F.lit(1), F.size(tk) - (L - 1))
    entries = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("pos"),
            F.conv(
                F.substring(F.md5(F.array_join(F.slice(tk, i, L), " ")), 1, 8),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
        ),
    )
    s2 = s1.select(
        "id",
        F.when(
            F.size(tk) < L, F.array().cast("array<struct<pos:int,h:bigint>>")
        )
        .otherwise(entries)
        .alias("_e"),
    )
    occ = s2.select("id", F.explode("_e").alias("e")).select(
        "id", F.col("e.pos").alias("pos"), F.col("e.h").alias("h")
    )
    hot = (
        occ.groupBy("h")
        .agg(F.count_distinct("id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    hits = occ.join(hot, "h", "leftsemi").select(
        "id", "pos", (F.col("pos") + F.lit(L - 1)).alias("e")
    )
    w = Window.partitionBy("id").orderBy("pos", "e")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = hits.withColumn(
        "ni",
        F.when(
            F.col("pos") > F.coalesce(prev_max, F.lit(-2)) + 1, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    islands = marked.withColumn(
        "isl", F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("id", "isl")
        .agg(F.min("pos").alias("__s"), F.max("e").alias("__e"))
        .select(
            F.col("id").alias(id_col),
            F.col("__s").cast("long").alias("span_start"),
            F.col("__e").cast("long").alias("span_end"),
            (F.col("__e") - F.col("__s") + 1).cast("long").alias("n_tokens"),
        )
    )

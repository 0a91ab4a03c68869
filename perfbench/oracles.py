"""Reference results computed without ``qafs_spark``: pandas and DuckDB over
the raw generated inputs.  Each ``check_*`` returns None when the engine's
output matches and a one-line reason when it does not."""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

import duckdb
import numpy as np
import pandas as pd

_TOL = 1e-9


def lww(raw: pd.DataFrame) -> pd.Series:
    """Last-write-wins view of ``(time, created_time, value)`` rows: per
    ``time`` the row with the greatest ``created_time``, ties to the greater
    value.  Returns values indexed by sorted time."""
    last = raw.sort_values(["time", "created_time", "value"]).drop_duplicates("time", keep="last")
    return last.set_index("time")["value"]


def stored_lww(path: str) -> pd.Series:
    """The same view computed by DuckDB over a feature dataset's files."""
    con = duckdb.connect()
    try:
        df = con.execute(
            "SELECT time, value FROM (SELECT time, value, row_number() OVER ("
            "PARTITION BY time ORDER BY created_time DESC, value DESC) AS rn "
            "FROM read_parquet(?)) WHERE rn = 1 ORDER BY time",
            [f"{path}/*/*.parquet"],
        ).df()
    finally:
        con.close()
    return df.set_index(pd.to_datetime(df["time"]).astype("datetime64[ns]"))["value"]


def time_travel(raw: pd.DataFrame, delta: str) -> pd.DataFrame:
    """Rows known at ``time + delta``."""
    return raw[raw["created_time"] <= raw["time"] + pd.Timedelta(delta)]


def asof_grid(series: pd.Series, start, end, freq: str) -> pd.Series:
    """Value at each grid point ``start + k*freq <= end``: the latest
    observation at or before it (history before ``start`` carries in)."""
    grid = pd.date_range(start, end, freq=freq)
    return series.sort_index().reindex(grid, method="ffill")


def downsample_mean(series: pd.Series, start, end, freq: str) -> pd.Series:
    """Left-closed, left-labelled bins ``[g, g + freq)`` for every grid point
    ``g <= end``; empty bins are NaN."""
    grid = pd.date_range(start, end, freq=freq)
    step = pd.Timedelta(freq)
    inside = series[(series.index >= grid[0]) & (series.index < grid[-1] + step)]
    k = ((inside.index - grid[0]) // step).astype(int)
    means = inside.groupby(k).mean()
    return pd.Series(means.reindex(range(len(grid))).to_numpy(), index=grid)


def same_values(got: pd.Series, want: pd.Series, what: str, rtol: float = 0.0) -> Optional[str]:
    """Equal index and values (NaN equals NaN; ``rtol`` for re-summed means)."""
    got = got.sort_index()
    want = want.sort_index()
    if len(got) != len(want) or not (got.index == want.index).all():
        return f"{what}: {len(got)} rows vs {len(want)} expected (or timestamps differ)"
    g = got.to_numpy(dtype=float)
    w = want.to_numpy(dtype=float)
    if not np.allclose(g, w, rtol=rtol, atol=_TOL, equal_nan=True):
        bad = int(np.argmax(~np.isclose(g, w, rtol=rtol, atol=_TOL, equal_nan=True)))
        return f"{what}: value {g[bad]!r} at {got.index[bad]} vs {w[bad]!r} expected"
    return None


# -- text ---------------------------------------------------------------------
# BM25 top-k for any terms and k; the catalog oracle of ``bm25_index_topk``
# with its fixed terms and k made parameters.
_BM25 = r"""
    WITH tok AS (
        SELECT doc_id AS doc, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents WHERE length(trim(text)) > 0
    ),
    dl AS (SELECT doc, count(*) AS dl FROM tok GROUP BY 1),
    stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_tokens FROM dl),
    tf AS (SELECT doc, term, count(*) AS tf FROM tok
           WHERE list_contains($terms, term) GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
        SELECT tf.doc,
               CAST(round(
                   ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                            / (CAST(df AS DOUBLE) + 0.5))
                   * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
                   / (CAST(tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
                               / (CAST(total_tokens AS DOUBLE)
                                  / CAST(n_docs AS DOUBLE)))))
                   * 1000000) AS BIGINT) AS s_micro
        FROM tf JOIN dfreq USING (term) JOIN dl USING (doc) CROSS JOIN stats
    ),
    per_doc AS (SELECT doc, sum(s_micro) AS score_micro FROM scored GROUP BY doc)
    SELECT doc, CAST(score_micro AS BIGINT) AS score_micro, rank FROM (
        SELECT doc, score_micro,
               row_number() OVER (ORDER BY score_micro DESC, doc ASC) AS rank
        FROM per_doc
    ) WHERE rank <= $k ORDER BY rank
"""


def _duck(sql: str, documents: pd.DataFrame, params: Dict) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.register("documents", documents)
        return con.execute(sql, params).df()
    finally:
        con.close()


def check_pairs(got: pd.DataFrame, documents: pd.DataFrame) -> Optional[str]:
    """Accumulated near-duplicate pairs against the catalog's
    ``stream_banded_dedup`` oracle (exact 3-shingle Jaccard >= 0.5 over all
    pairs) run by DuckDB over ``documents``."""
    from qafs_spark.queries import ORACLES

    want = _duck(ORACLES["stream_banded_dedup"], documents, {})
    g = {(int(a), int(b)): j for a, b, j in got[["id_a", "id_b", "jaccard"]].itertuples(index=False)}
    w = {(int(a), int(b)): j for a, b, j in want.itertuples(index=False)}
    if g.keys() != w.keys():
        extra, missing = sorted(g.keys() - w.keys()), sorted(w.keys() - g.keys())
        return f"pairs: {len(extra)} unexpected {extra[:3]}, {len(missing)} missing {missing[:3]}"
    bad = [p for p in g if abs(g[p] - w[p]) > _TOL]
    return f"pairs: jaccard differs for {bad[:3]}" if bad else None


def check_bm25(got: pd.DataFrame, documents: pd.DataFrame, terms: Sequence[str], k: int) -> Optional[str]:
    want = _duck(_BM25, documents, {"terms": list(terms), "k": k})
    g = [tuple(int(x) for x in r) for r in got[["doc", "score_micro", "rank"]].sort_values("rank").itertuples(index=False)]
    w = [tuple(int(x) for x in r) for r in want.itertuples(index=False)]
    return None if g == w else f"bm25 {list(terms)}: got {g[:3]} expected {w[:3]}"


def check_vector_topk(got: pd.DataFrame, vectors: pd.DataFrame, queries: pd.DataFrame, k: int) -> Optional[str]:
    """Exact cosine top-k over ``vectors`` (self excluded).  Tie tolerant:
    the neighbour at each rank must have the cosine the exact ranking has at
    that rank."""
    ids = vectors["vec_id"].to_numpy()
    mat = np.stack(vectors["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    for qid, qvec in zip(queries["vec_id"], queries["embedding"]):
        q = np.asarray(qvec, dtype=np.float64)
        cos = mat @ q / (norms * np.linalg.norm(q))
        cos[ids == qid] = -np.inf
        order = np.lexsort((ids, -cos))[:k]
        want = cos[order]
        rows = got[got["query_id"] == qid].sort_values("rank")
        if len(rows) != len(order):
            return f"vector search q={qid}: {len(rows)} neighbours vs {len(order)}"
        by_id = dict(zip(ids, cos))
        for r, (nid, c) in enumerate(zip(rows["neighbor_id"], rows["cosine"])):
            true = by_id.get(int(nid))
            if true is None or abs(true - want[r]) > _TOL or abs(c - true) > _TOL:
                return f"vector search q={qid} rank {r + 1}: neighbour {nid} cos {c} vs {want[r]}"
        if rows["neighbor_id"].nunique() != len(rows):
            return f"vector search q={qid}: repeated neighbour"
    return None


def live(frame: pd.DataFrame, id_col: str, deleted: List[int]) -> pd.DataFrame:
    return frame[~frame[id_col].isin(deleted)]

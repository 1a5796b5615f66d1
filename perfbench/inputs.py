"""Seeded load generators, one per workload.

Each generator writes parquet inputs plus the ground truth the output
checks need, under ``<cache>/<workload>/seed<seed>/``, and a
``meta.json`` with the input sizes.  A finished directory is reused, so
generation stays out of every timed region and runs once per
(workload, seed).  The program under test only reads the parquet.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- dedup: webtext-style pages with planted near-dup clusters ------------

DEDUP_DOCS = 8_000
DEDUP_CLUSTERED = 0.5             # share of docs in planted clusters
DEDUP_MAX_CLUSTER = 200
DEDUP_J = (1.0, 0.95, 0.9, 0.85, 0.8, 0.7)   # sources.webtext's levels
# one template site larger than LSH_BUCKET_CAP x hot_factor (64 x 8) so
# candidate_pairs takes its salted hot-bucket path; its golden pairs are
# one (pages x shingles) matrix product, so the size stays cheap
DEDUP_HOT_PAGES = 700

# -- sketch: grouped columns for the sketch aggregates ------------------------

SKETCH_ROWS = 1_000_000
SKETCH_GROUPS = 25
# group sizes fall as 1/rank: the largest group holds 25x the rows of the
# smallest, whose ~10k distinct ids still put theta in estimation mode
SKETCH_ZIPF = 1.0
# frequent-items threshold, as a share of the group's rows
FREQ_SHARE = 0.005


def prepare(workload: str, seed: int, cache: Path) -> tuple[Path, dict]:
    """Return (input dir, meta) for (workload, seed), generating once."""
    out = cache / workload / f"seed{seed}"
    if (out / "meta.json").exists():
        return out, json.loads((out / "meta.json").read_text())
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    kind = workload.split("_")[0]
    meta = {"dedup": _dedup, "sketch": _sketch}[kind](tmp, seed)
    meta["seed"] = seed
    (tmp / "meta.json").write_text(json.dumps(meta, indent=1))
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out, meta


def _file_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) \
        if path.is_dir() else path.stat().st_size


def _golden_group_pairs(urls: list[str], docs: list[list[str]],
                        threshold: float) -> list[tuple[str, str]]:
    """Exact w-word-shingle Jaccard of every pair in one planted group,
    as one (docs x shingles) incidence-matrix product; same shingles
    and the same float division as sources.webtext's golden loop."""
    from datasketches_java_spark.config import SHINGLE_W
    from datasketches_java_spark.sources.webtext import _shingle_set
    order = np.argsort(urls)
    urls = [urls[i] for i in order]
    sets = [_shingle_set(docs[i], SHINGLE_W) for i in order]
    vocab: dict[str, int] = {}
    rows, cols = [], []
    for r, s in enumerate(sets):
        for sh in s:
            rows.append(r)
            cols.append(vocab.setdefault(sh, len(vocab)))
    m = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    m[rows, cols] = 1.0
    inter = np.rint(m @ m.T).astype(np.int64)   # exact: counts < 2^24
    size = np.diag(inter)
    union = size[:, None] + size[None, :] - inter
    iu, ju = np.triu_indices(len(sets), k=1)
    keep = inter[iu, ju] / union[iu, ju] >= threshold
    return [(urls[i], urls[j]) for i, j in zip(iu[keep], ju[keep])]


def _dedup(out: Path, seed: int) -> dict:
    """Pages in sources.webtext's vocabulary and edit model: half in
    planted near-dup clusters (zipf sizes 2-200 at Jaccard 1.0-0.7
    against their base), one hot template site, singletons for the
    rest; golden pairs are every within-cluster pair at Jaccard >= 0.8."""
    from datasketches_java_spark.config import DUP_JACCARD_THRESHOLD
    from datasketches_java_spark.sources.webtext import _near_dup, _vocab
    rng = np.random.default_rng(seed)
    vocab = _vocab(2000, rng)
    varr = np.array(vocab)
    groups: list[list[list[str]]] = []

    boiler = list(varr[rng.integers(0, len(varr), 300)])
    hot = []
    for _ in range(DEDUP_HOT_PAGES):
        body = list(varr[rng.integers(0, len(varr), 3)])
        at = int(rng.integers(0, len(boiler)))
        hot.append(boiler[:at] + body + boiler[at:])
    groups.append(hot)

    budget = int(DEDUP_DOCS * DEDUP_CLUSTERED) - DEDUP_HOT_PAGES
    while budget >= 2:
        size = min(int(rng.zipf(1.5)) + 1, DEDUP_MAX_CLUSTER, budget)
        base = list(varr[rng.integers(0, len(varr), int(rng.integers(100, 220)))])
        members = [base]
        for _ in range(size - 1):
            j = DEDUP_J[int(rng.integers(0, len(DEDUP_J)))]
            members.append(_near_dup(base, j, vocab, rng))
        groups.append(members)
        budget -= size
    n_clustered = sum(len(g) for g in groups)

    docs = [d for g in groups for d in g]
    while len(docs) < DEDUP_DOCS:
        docs.append(list(varr[rng.integers(0, len(varr), int(rng.integers(80, 200)))]))

    order = rng.permutation(len(docs))
    urls = [""] * len(docs)
    for k, i in enumerate(order):
        urls[i] = f"https://site{int(i) % 200:05d}.example/p/{k:08d}"
    texts = [" ".join(d) for d in docs]
    pages = pa.table({"url": [urls[i] for i in order],
                      "text": [texts[i] for i in order]})
    pq.write_table(pages, out / "pages.parquet", row_group_size=4096)

    pairs = []
    for gi, g in enumerate(groups):
        base = sum(len(x) for x in groups[:gi])
        pairs += _golden_group_pairs(urls[base:base + len(g)], g,
                                     DUP_JACCARD_THRESHOLD)
    pq.write_table(pa.table({"url_a": [a for a, _ in pairs],
                             "url_b": [b for _, b in pairs]}),
                   out / "golden_dup_pairs.parquet")
    return {"docs": len(docs),
            "text_bytes": sum(len(t.encode()) for t in texts),
            "parquet_bytes": _file_bytes(out / "pages.parquet"),
            "planted_cluster_share": n_clustered / len(docs),
            "planted_clusters": len(groups), "hot_site_pages": len(hot),
            "golden_pairs": len(pairs)}


def _sketch(out: Path, seed: int) -> dict:
    """SKETCH_ROWS rows over SKETCH_GROUPS zipf-skewed groups: two
    overlapping long id columns and a string id column whose per-group
    distinct counts are far above the sketches' k, a double column for
    quantiles and a zipf item column for frequent items.  Exact answers
    come from DuckDB over the written parquet."""
    import duckdb
    rng = np.random.default_rng(seed)
    n = SKETCH_ROWS
    w = np.arange(1, SKETCH_GROUPS + 1) ** -SKETCH_ZIPF
    grp = rng.choice(SKETCH_GROUPS, size=n, p=w / w.sum()).astype(np.int32)
    dom = n // 2
    uid = rng.integers(0, dom, n, dtype=np.int64)
    uid_b = rng.integers(dom // 2, dom + dom // 2, n, dtype=np.int64)
    s = np.char.add("k", rng.integers(0, dom, n).astype("U12"))
    v = rng.lognormal(3.0, 1.0, n)
    item = np.minimum(rng.zipf(1.3, n), 1_000_000).astype(np.int64)
    table = pa.table({"grp": grp, "uid": uid, "uid_b": uid_b, "s": s,
                      "v": v, "item": item})
    path = out / "rows.parquet"
    pq.write_table(table, path, row_group_size=65536)

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    src = f"read_parquet('{path}')"
    per_group = con.execute(f"""
        SELECT grp, count(*) AS n, count(DISTINCT uid) AS uid,
               count(DISTINCT s) AS s, count(DISTINCT uid_b) AS uid_b
        FROM {src} GROUP BY grp ORDER BY grp""").df()
    setops = con.execute(f"""
        WITH a AS (SELECT DISTINCT grp, uid AS x FROM {src}),
             b AS (SELECT DISTINCT grp, uid_b AS x FROM {src})
        SELECT a.grp, count(b.x) AS inter, count(*) - count(b.x) AS a_not_b
        FROM a LEFT JOIN b USING (grp, x) GROUP BY a.grp ORDER BY a.grp""").df()
    heavy = con.execute(f"""
        WITH c AS (SELECT grp, item, count(*) AS c FROM {src} GROUP BY grp, item),
             t AS (SELECT grp, count(*) * {FREQ_SHARE} AS t FROM {src} GROUP BY grp)
        SELECT c.grp, c.item, c.c FROM c JOIN t USING (grp)
        WHERE c.c > t.t ORDER BY c.grp, c.item""").df()
    total_uid = con.execute(f"SELECT count(DISTINCT uid) FROM {src}").fetchone()[0]
    con.close()
    groups = per_group.merge(setops, on="grp")
    exact = {
        "groups": {int(r.grp): {"n": int(r.n), "uid": int(r.uid), "s": int(r.s),
                                "uid_b": int(r.uid_b), "inter": int(r.inter),
                                "a_not_b": int(r.a_not_b)}
                   for r in groups.itertuples()},
        "heavy": {str(g): {str(int(i)): int(c) for i, c in zip(d.item, d.c)}
                  for g, d in heavy.groupby("grp")},
        "total_uid": int(total_uid),
    }
    (out / "exact.json").write_text(json.dumps(exact))
    return {"rows": n, "groups": SKETCH_GROUPS,
            "parquet_bytes": _file_bytes(path),
            "largest_group_rows": int(per_group.n.max()),
            "smallest_group_rows": int(per_group.n.min())}

"""Seeded input generators and graft-independent reference answers.

Every workload input is a pure function of (workload, seed, size). Each
generator writes a parquet dataset plus `truth.npz` (arrays the checks
need) and `ref.json` (reference answers computed with numpy/DuckDB only;
no graft code is involved). `ensure()` caches a generated input under the
benchmark's build directory and rebuilds it atomically when missing.
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes for a 4-core host; `tiny` is the self-test size. taxi: (trips,
# units of the side panel that the traced run fits with hdfe); corpus: docs.
SIZES = {
    "taxi_compress": {"full": (200_000, 8_000), "tiny": (20_000, 400)},
    "corpus_dedup": {"full": (3_000,), "tiny": (1_500,)},
}
PANEL_TRUE = {"x1": 0.5, "x2": -0.3}


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


# --------------------------------------------------------------- taxi

def gen_taxi(seed, size, out):
    """NYC-taxi-like trips. fare sits on a 0.5 grid and passengers on 1..6,
    so (fare, passengers, month, vendor) compresses to ~10-20 k cells."""
    n, units = size
    r = _rng(seed, 1)
    month = r.integers(1, 13, n).astype(np.int32)
    vendor = np.where(r.random(n) < 0.45, "CMT", "VTS")
    fare = 2.5 + 0.5 * np.minimum(r.gamma(2.0, 10.0, n).astype(np.int64), 115)
    passengers = r.choice(np.arange(1, 7), n, p=[.6, .15, .08, .07, .06, .04]).astype(np.int32)
    month_eff = r.normal(0.0, 0.3, 12)
    noise = r.normal(0.0, 1.0, n) * (0.4 + 0.02 * fare)  # heteroskedastic
    tip = (0.107 * fare - 0.029 * passengers + month_eff[month - 1]
           + np.where(vendor == "VTS", 0.2, 0.0) + noise)
    t = pa.table({"tip": tip, "fare": fare, "passengers": passengers,
                  "vendor": vendor, "month": month})
    pq.write_table(t, os.path.join(out, "data.parquet"), row_group_size=max(n // 4, 1))
    np.savez(os.path.join(out, "truth.npz"), tip=tip, fare=fare, month=month)
    return {"rows": n, "fit": taxi_fit_reference(os.path.join(out, "data.parquet")),
            "panel": gen_panel(seed, units, out)}


def taxi_fit_reference(path):
    """WLS on DuckDB-compressed cells with the exact per-cell HC1 meat:
    `tip ~ fare + passengers | month + vendor`, vcov = hc1."""
    import duckdb

    con = duckdb.connect()
    cells = con.execute(
        "SELECT fare, passengers, month, vendor, count(*) AS n, sum(tip) AS sy, "
        "sum(tip * tip) AS syy FROM read_parquet(?) GROUP BY ALL", [path]).fetchnumpy()
    con.close()
    month = cells["month"].astype(int)
    cols = [np.ones(len(month)), cells["fare"], cells["passengers"].astype(float)]
    cols += [(month == m).astype(float) for m in range(2, 13)]
    cols += [(cells["vendor"] == "VTS").astype(float)]
    x = np.column_stack(cols)
    n, sy, syy = cells["n"].astype(float), cells["sy"], cells["syy"]
    xtx = x.T @ (x * n[:, None])
    xtx_inv = np.linalg.inv(xtx)
    beta = xtx_inv @ (x.T @ sy)
    yhat = x @ beta
    rss_g = syy - 2.0 * yhat * sy + n * yhat * yhat
    meat = x.T @ (x * rss_g[:, None])
    nobs, p = n.sum(), x.shape[1]
    v = xtx_inv @ meat @ xtx_inv * (nobs / (nobs - p))
    se = np.sqrt(np.diag(v))
    return {"cells": int(len(n)),
            "coef": {"fare": [beta[1], se[1]], "passengers": [beta[2], se[2]]}}


def binsreg_reference(truth, breaks, spline):
    """Reference binscatter points for `tip ~ fare | month` on the library's
    reported bin edges. degree 0: bin dummies + month dummies (month 1 the
    base), point = bin coefficient. degree 1 / smoothness 1: truncated-power
    spline within month, point = mean(tip) + basis(x̄_bin) · β."""
    x, y, month = truth["fare"], truth["tip"], truth["month"]
    edges = np.asarray(breaks, dtype=float)
    interior = edges[1:-1]
    b = np.sum(x[:, None] > interior[None, :], axis=1)
    nbin = len(edges) - 1
    counts = np.bincount(b, minlength=nbin)
    xmean = np.bincount(b, weights=x, minlength=nbin) / np.maximum(counts, 1)
    if not spline:
        cols = [(b == j).astype(float) for j in range(nbin)]
        cols += [(month == m).astype(float) for m in range(2, 13)]
        coef = np.linalg.lstsq(np.column_stack(cols), y, rcond=None)[0]
        fits = coef[:nbin]
    else:
        def basis(v):
            v = np.atleast_1d(v)
            return np.column_stack([v] + [np.maximum(v - k, 0.0) for k in interior])

        z = basis(x)
        zy = np.column_stack([z, y])
        means = np.zeros((13, zy.shape[1]))
        for m in range(1, 13):
            means[m] = zy[month == m].mean(axis=0)
        w = zy - means[month]
        coef = np.linalg.lstsq(w[:, :-1], w[:, -1], rcond=None)[0]
        fits = y.mean() + basis(xmean) @ coef
    return {"n": counts.tolist(), "x": xmean.tolist(), "fit": fits.tolist()}


def quantile_edges_ok(x_sorted, edges, nbins, value_tol):
    """The library's quantile contract: the ends are min and max, and each
    interior edge lies within `value_tol` of the exact p-quantile (inverse
    CDF) for some p = j/nbins."""
    n = len(x_sorted)
    if edges[0] != x_sorted[0] or edges[-1] != x_sorted[-1] or np.any(np.diff(edges) <= 0):
        return False
    probs = np.arange(1, nbins) / nbins
    exact = np.concatenate([x_sorted[np.clip(np.ceil(probs * n).astype(int) - 1, 0, n - 1)],
                            x_sorted[np.clip(np.floor(probs * n).astype(int), 0, n - 1)]])
    return all(np.min(np.abs(exact - v)) <= value_tol * (1 + 1e-9) for v in edges[1:-1])


# -------------------------------------------------------------- panel

def gen_panel(seed, units, out):
    """Unbalanced unit x year panel, 10 years, ~9 % of unit-years lost to
    attrition (a fifth of units exit early). Regressors correlate with
    both fixed effects and errors are AR(1) within unit."""
    r = _rng(seed, 2)
    years = 10
    exit_year = np.where(r.random(units) < 0.2, r.integers(2, years, units), years)
    unit = np.repeat(np.arange(units), exit_year)
    year = np.concatenate([np.arange(k) for k in exit_year])
    n = len(unit)
    alpha = r.normal(0.0, 1.0, units)
    gamma = r.normal(0.0, 0.5, years) + 0.1 * np.arange(years)
    x1 = 0.5 * alpha[unit] + 0.3 * gamma[year] + r.normal(0.0, 1.0, n)
    x2 = -0.4 * alpha[unit] + 0.05 * year * (alpha[unit] > 0) + r.normal(0.0, 1.0, n)
    shock = r.normal(0.0, 1.0, n)
    e = np.empty(n)
    first = np.r_[True, unit[1:] != unit[:-1]]
    for i in range(n):  # AR(1) within unit
        e[i] = shock[i] if first[i] else 0.5 * e[i - 1] + shock[i]
    y = PANEL_TRUE["x1"] * x1 + PANEL_TRUE["x2"] * x2 + alpha[unit] + gamma[year] + e
    t = pa.table({"unit": unit.astype(np.int64), "year": (2010 + year).astype(np.int32),
                  "x1": x1, "x2": x2, "y": y})
    pq.write_table(t, os.path.join(out, "panel.parquet"), row_group_size=max(n // 4, 1))
    return {"rows": int(n), "units": int(units), **panel_reference(unit, year, x1, x2, y)}


def panel_reference(unit, year, x1, x2, y):
    """`y ~ x1 + x2 | unit + year` by alternating projections to
    convergence, with CR1 errors clustered by unit (small-sample factor
    G/(G-1) * n/(n-k), k = regressors + FE levels - 1)."""
    v = np.column_stack([y, x1, x2]).astype(float)
    nu, ny = unit.max() + 1, year.max() + 1
    cu, cy = np.bincount(unit, minlength=nu), np.bincount(year, minlength=ny)
    scale = np.abs(v).max()
    for _ in range(10_000):
        mu = np.column_stack([np.bincount(unit, v[:, j], nu) for j in range(3)]) / cu[:, None]
        v = v - mu[unit]
        my = np.column_stack([np.bincount(year, v[:, j], ny) for j in range(3)]) / cy[:, None]
        v = v - my[year]
        if max(np.abs(mu).max(), np.abs(my).max()) < 1e-14 * scale:
            break
    yt, xt = v[:, 0], v[:, 1:]
    xtx_inv = np.linalg.inv(xt.T @ xt)
    beta = xtx_inv @ (xt.T @ yt)
    e = yt - xt @ beta
    s = np.column_stack([np.bincount(unit, e * xt[:, j], nu) for j in range(2)])
    g, n = float(np.count_nonzero(cu)), float(len(y))
    k = 2 + np.count_nonzero(cu) + np.count_nonzero(cy) - 1
    vc = xtx_inv @ (s.T @ s) @ xtx_inv * (g / (g - 1.0)) * (n / (n - k))
    se = np.sqrt(np.diag(vc))
    return {"coef": {"x1": [beta[0], se[0]], "x2": [beta[1], se[1]]}}


# ------------------------------------------------------------- corpus

def gen_corpus(seed, size, out):
    """Random-word documents with planted near-duplicate clusters of known
    membership. A cluster is a base document and copies of it with one word
    appended (Jaccard on word bigrams ~0.99, so MinHash LSH with 4 bands of
    4 rows misses a member with probability ~1e-8). A few chains, each
    document three word substitutions away from the previous one, link
    documents that are not near-duplicates of each other, so connected
    components take several rounds. Template families share a prefix but
    stay near Jaccard 0.25, below the 0.5 threshold, so their LSH
    candidates fail verification."""
    docs, = size
    r = _rng(seed, 3)
    vocab = np.array(["w%x" % i for i in range(20_000)])
    length = 300
    texts, groups = [], []

    def words(k):
        return r.integers(0, len(vocab), k)

    for c in range(4):  # chains
        d = words(length)
        for _ in range(max(docs // 250, 8)):
            texts.append(d)
            groups.append(("chain", c))
            d = d.copy()
            d[r.integers(0, length, 3)] = words(3)
    c = 0
    while len(texts) < docs // 4:  # clusters of 3-6 documents
        base = words(length)
        for k in range(int(r.integers(3, 7))):
            texts.append(base if k == 0 else np.append(base, words(1)))
            groups.append(("star", c))
        c += 1
    while len(texts) < docs * 9 // 10:  # template families of 10
        prefix = words(length * 2 // 5)
        for _ in range(10):
            texts.append(np.concatenate([prefix, words(length - len(prefix))]))
            groups.append(("single", -1))
    while len(texts) < docs:
        texts.append(words(length))
        groups.append(("single", -1))

    ids = r.permutation(len(texts)).astype(np.int64) * 7 + 11
    text = np.array([" ".join(vocab[d]) for d in texts], dtype=object)
    t = pa.table({"id": ids, "text": text})
    order = r.permutation(len(ids))
    pq.write_table(t.take(pa.array(order)), os.path.join(out, "data.parquet"),
                   row_group_size=max(len(ids) // 4, 1))
    members = {}
    for i, g in zip(ids, groups):
        if g[0] != "single":
            members.setdefault(g, []).append(int(i))
    clusters = sorted(sorted(m) for m in members.values())
    removed = sorted(i for m in clusters for i in m[1:])
    np.savez(os.path.join(out, "truth.npz"), removed=np.array(removed, dtype=np.int64))
    return {"rows": len(ids), "clusters": len(clusters),
            "kept": len(ids) - len(removed), "removed": len(removed),
            "cluster_sizes_max": max(len(m) for m in clusters)}


GENERATORS = {"taxi_compress": gen_taxi, "corpus_dedup": gen_corpus}


def ensure(root, workload, seed, size):
    """Generated input directory for (workload, seed, size), built once
    per version of this file."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    out = os.path.join(root, "data", f"{workload}-s{seed}-{size}-{version}")
    if os.path.exists(os.path.join(out, "ref.json")):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ref = GENERATORS[workload](seed, SIZES[workload][size], tmp)
    ref.update({"workload": workload, "seed": seed, "size": size})
    with open(os.path.join(tmp, "ref.json"), "w") as f:
        json.dump(ref, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out

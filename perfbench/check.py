"""Reference checks of every op result, and the metrics of one run.

The JVM side only measures and records results; everything that decides
whether an output is correct lives here and uses numpy/DuckDB references
from gen.py, never graft code.
"""

import os
import statistics

import numpy as np

import gen

REL_EST = 1e-6   # coefficients, binscatter points
REL_SE = 1e-5    # standard errors
QUANTILE_BUCKETS = 10_000  # binsreg's default quantile precision: (max - min) / 10^4
MODULES = ["formula", "model", "reg", "linalg", "binsreg", "functions",
           "pipeline", "operators", "sources", "Staging"]
KINDS = ["fit", "dedup"]


def close(a, b, rel):
    return a is not None and b is not None and abs(a - b) <= rel * max(abs(b), 1e-12)


class Checker:
    """Checks results of one generated input against its references.
    `perturb` flips the self-test: it shifts the reference coefficients
    (`coef`), drops one planted cluster member (`cluster`), or adds one
    member that no run removes (`member`, a single missed member)."""

    def __init__(self, data_dir, ref, perturb=None):
        self.ref = ref
        self.dir = data_dir
        self.perturb = perturb
        self._truth = None
        self._bins = {}
        if perturb == "coef":
            for c in ref["fit"]["coef"].values():
                c[0] *= 1 + 1e-3

    @property
    def truth(self):
        if self._truth is None:
            self._truth = dict(np.load(os.path.join(self.dir, "truth.npz")))
            if "fare" in self._truth:
                self._truth["fare_sorted"] = np.sort(self._truth["fare"])
            if self.perturb == "cluster":
                removed = self._truth["removed"]
                self._truth["removed"] = removed[removed != removed[0]]
            if self.perturb == "member":
                self._truth["removed"] = np.append(self._truth["removed"], -1)
        return self._truth

    def fit_ok(self, res, ref, se=True):
        coef = res.get("coef", {})
        return all(t in coef and close(coef[t][0], b, REL_EST)
                   and (not se or close(coef[t][1], s, REL_SE))
                   for t, (b, s) in ref["coef"].items())

    def bins_ok(self, res, spline):
        edges = res["edges"]
        xs = self.truth["fare_sorted"]
        if not gen.quantile_edges_ok(xs, edges, 20, (xs[-1] - xs[0]) / QUANTILE_BUCKETS):
            return False
        key = (tuple(edges), spline)
        if key not in self._bins:
            self._bins[key] = gen.binsreg_reference(self.truth, edges, spline)
        r = self._bins[key]
        return (res["n"] == r["n"]
                and all(close(a, b, 1e-9) for a, b in zip(res["x"], r["x"]))
                and len(res["fit"]) == len(r["fit"])
                and all(close(a, b, REL_EST) for a, b in zip(res["fit"], r["fit"])))

    def dedup_scores(self, res):
        """(precision, recall) of the removed ids against the planted
        cluster members that should go (all but each cluster's smallest)."""
        got, want = set(res["removed"]), set(self.truth["removed"].tolist())
        hit = len(got & want)
        return (hit / len(got) if got else 1.0), (hit / len(want) if want else 1.0)

    def ok(self, kind, res):
        """Whether an op or probe result matches its reference."""
        if res is None:
            return False
        try:
            if kind in ("fit", "fit_auto", "fit_compress", "compress_driver"):
                return self.fit_ok(res, self.ref["fit"])
            if kind == "hdfe":
                return self.fit_ok(res, self.ref["panel"])
            if kind == "hdfe_iid":
                return self.fit_ok(res, self.ref["panel"], se=False)
            if kind in ("binsreg", "spline"):
                return self.bins_ok(res, kind == "spline")
            if kind == "dedup":
                precision, recall = self.dedup_scores(res)
                # planted members are near-identical (Jaccard ~0.997), so
                # LSH with independent hash rows misses one with probability
                # ~1e-8: every planted member must go, and nothing else
                return precision == 1.0 and recall == 1.0
            if kind == "pairs":
                return bool(res["cc_agree"])
        except (KeyError, TypeError, ValueError, IndexError):
            return False
        return False


def median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def op_stats(samples, rows):
    """(median op seconds, input rows per second of op wall)."""
    wall = sum(s["seconds"] for s in samples)
    return median(s["seconds"] for s in samples), (rows * len(samples) / wall if wall else 0.0)


def end_to_end(run, samples):
    """{metric: (value, sample count)} of the untraced samples."""
    p50, rps = op_stats(samples, run["rows"])
    return {"setup_s": (run["ready_s"], 1),
            "op_p50_s": (p50, len(samples)), "rows_per_s": (rps, len(samples))}


def _union_ms(intervals, start, end):
    iv = sorted((max(a, start), min(b, end)) for a, b in intervals)
    busy, cs, ce = 0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if ce is None or a > ce:
            if ce is not None:
                busy += ce - cs
            cs, ce = a, b
        else:
            ce = max(ce, b)
    return busy + (ce - cs if ce is not None else 0)


def per_layer(run, checker, table_bytes, error_lines):
    spans = run["spans"]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])

    def subtree(sid):
        out, todo = [], [sid]
        while todo:
            out.append(by_id[todo.pop()])
            todo += kids.get(out[-1]["id"], [])
        return out

    def total(sid, field):
        return sum(x[field] for x in subtree(sid))

    probe = {s["name"]: s for s in spans if s["op"] < 0 and s["name"] != "probe"}

    def ptime(name):
        return probe[name]["seconds"] if name in probe else 0.0

    def ptotal(name, field):
        return total(probe[name]["id"], field) if name in probe else 0

    samples, probes = run["samples"], run["probes"]
    untraced = [s for s in samples if not s["traced"]]
    traced = [s for s in samples if s["traced"]]
    m = {}
    p_u, rps_u = op_stats(untraced, run["rows"])
    p_t, rps_t = op_stats(traced, run["rows"])
    for k in KINDS:
        m[f"op.{k}_p50_s"] = p_u if k == run["kind"] else 0.0
    m["op.binsreg_s"] = ptime("binsreg.fit")
    m["op.spline_s"] = ptime("binsreg.fit_spline")
    both = bool(traced and untraced)
    m["trace.overhead_op_p50_s"] = p_t - p_u if both else 0.0
    m["trace.overhead_rows_per_s"] = rps_t - rps_u if both else 0.0
    m["setup.load_s"] = run["loaded_s"]
    m["setup.warmup_s"] = run["ready_s"] - run["loaded_s"]

    # Spark work per traced op
    ops = [s["span"] for s in traced]
    for field in ("planning_ms", "jobs", "tasks", "exec_run_ms", "gc_ms",
                  "shuffle_write_bytes", "fetch_wait_ms"):
        m[f"spark.{field}"] = median(total(i, field) for i in ops)

    def serial_ms(sid):
        s = by_id[sid]
        busy = _union_ms([iv for x in subtree(sid) for iv in x["jobs_iv"]], s["start_ms"], s["end_ms"])
        return s["end_ms"] - s["start_ms"] - busy

    m["driver.serial_ms"] = median(serial_ms(i) for i in ops)

    # reg, model, linalg, binsreg (taxi probes)
    fit_spans = [s for s in spans if s["op"] >= 0 and s["name"] == "reg.fit"]
    m["reg.table_passes"] = (median(total(s["id"], "input_bytes") for s in fit_spans)
                             / table_bytes if fit_spans else 0.0)
    m["reg.probe_s"] = ptime("reg.fit_auto") - ptime("reg.fit_compress")
    m["reg.compress_agg_s"] = ptime("reg.compressed_data")
    m["reg.compress_driver_s"] = ptime("reg.compress_driver")
    m["reg.cells"] = probes.get("fit_compress", {}).get("nobs", 0)
    m["model.factor_levels_s"] = ptime("model.factor_levels")
    m["linalg.solve_s"] = ptime("linalg.solve")
    m["binsreg.quantile_s"] = ptime("binsreg.hist_quantiles")
    hdfe = probes.get("hdfe") or {}
    sweeps = hdfe.get("hdfe_sweeps") or 0
    m["reg.hdfe_s"] = ptime("reg.fit_hdfe")
    m["reg.hdfe_sweeps"] = sweeps
    m["reg.hdfe_jobs_per_sweep"] = ptotal("reg.fit_hdfe", "jobs") / sweeps if sweeps else 0.0
    m["reg.hdfe_planning_ms"] = ptotal("reg.fit_hdfe", "planning_ms") / sweeps if sweeps else 0.0
    iid = ptime("reg.fit_hdfe_iid")
    m["reg.vcov_cluster_ratio"] = ptime("reg.fit_hdfe") / iid if iid else 0.0
    # 1 when every auto-strategy fit of the run matched its exact reference;
    # 0 when the run made no auto fit
    autos = [("fit", s["result"]) for s in samples if run["kind"] == "fit"]
    if "panel_auto" in probes:
        autos.append(("hdfe_iid", probes["panel_auto"]))
    m["reg.auto_exact"] = int(bool(autos) and all(checker.ok(k, r) for k, r in autos))

    # functions, pipeline, operators (corpus probes)
    pairs = probes.get("pairs") or {}
    m["functions.minhash_sig_s"] = ptime("functions.minhash_signatures")
    m["pipeline.dedup.pairs_s"] = ptime("pipeline.minhash_pairs")
    m["pipeline.dedup.candidates"] = pairs.get("candidates", 0)
    m["pipeline.dedup.pairs"] = pairs.get("pairs", 0)
    m["pipeline.dedup.verify_yield"] = (pairs["pairs"] / pairs["candidates"]
                                        if pairs.get("candidates") else 0.0)
    m["pipeline.dedup.cc_s"] = ptime("pipeline.duplicate_clusters")
    m["pipeline.dedup.cc_jobs"] = ptotal("pipeline.duplicate_clusters", "jobs")
    m["pipeline.dedup.cc_planning_ms"] = ptotal("pipeline.duplicate_clusters", "planning_ms")
    dedup = [s["result"] for s in samples if run["kind"] == "dedup" and s["result"]]
    m["pipeline.dedup.precision"], m["pipeline.dedup.recall"] = (
        checker.dedup_scores(dedup[0]) if dedup else (0.0, 0.0))
    m["operators.cc_s"] = ptime("operators.connected_components")
    m["sources.read_s"] = ptime("sources.read")
    m["Staging.stage_s"] = ptime("Staging.stage")
    for mod in MODULES:
        m[f"span.{mod}.self_s"] = sum(s["self_s"] for s in probe.values()
                                      if s["name"].split(".")[0] == mod)

    # probe results against their references (the auto chooser is above)
    checked = [k for k in ("fit_auto", "fit_compress", "compress_driver", "binsreg", "spline",
                           "hdfe", "hdfe_iid", "pairs") if k in probes]
    m["bench.probe_failed"] = sum(not checker.ok(k, probes[k]) for k in checked) + ("error" in probes)
    m["host.steal_pct"] = run["steal_pct"]
    m["jvm.gc_ms"] = run["gc_ms"]
    m["spark.error_log_lines"] = error_lines
    m["trace.spans"] = len(spans)
    return m

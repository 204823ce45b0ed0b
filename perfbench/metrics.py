"""Turns the JVM's raw record into the benchmark's metrics.

End-to-end metrics come from untraced runs; per-layer metrics from the
traced half of a `--trace 1` run, averaged per pass (a batch pass, or a
batch of ten requests for `interactive`). Spans form a tree: pass → step →
{operator call (`<step>.build`), materialization (`spark.noop` or a real
write)}. A span's self time is its duration minus the part of it its
children cover. A family's wall, jobs and task time leave out what nests
under another family's span (a step's real write counts for `sources`), so
the families' wall times of a pass add up to its wall less `harness_self_s`.
"""
import glob
import os
import statistics

import pyarrow.parquet as pq

FAMILIES = ["SyncOps", "NormOps", "SiteNormalizers", "TextAnalysis", "DedupOps",
            "GraphOps", "AnnOps", "EmbedOps", "SearchOps", "EsQuery", "Relational",
            "sources"]
FN_FAMILIES = ["MainContentExpressions", "HtmlExpressions", "TextExpressions",
               "VectorExpressions"]
REQUEST_TYPES = ["bm25", "multi_match", "bool", "phrase", "facet", "es_query",
                 "es_agg", "semantic", "ann", "sql"]
COUNTERS = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("failed_tasks", "count"), ("task_s", "s"), ("task_cpu_s", "s"),
            ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
            ("shuffle_fetch_wait_s", "s"), ("spill_mb", "MB"), ("scan_mb", "MB"),
            ("scan_rows", "count"), ("write_mb", "MB")]
# Approximate dedup steps measured against the seed-planted pairs.
DEDUP_STEPS = ["dedup_minhash"]


def quantile(values, q):
    """Linearly interpolated quantile (numpy's default definition): with a
    few samples per request kind it moves less than a nearest-rank pick
    when the quantile falls between two kinds."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _read(path, cols):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    out = {c: [] for c in cols}
    for f in files:
        t = pq.read_table(f, columns=cols)
        for c in cols:
            out[c].extend(t.column(c).to_pylist())
    return out


# ------------------------------------------------------------------ checks

def check_sinks(check_dir, sinks, rows):
    """Verifies what the pipeline's real writes left on disk; `sinks` maps
    a step to the writer it ends in."""
    failures = []
    for step, sink in sinks.items():
        d = os.path.join(check_dir, f"{step}.sink")
        try:
            if sink == "EsBulkSink.write":
                lines = 0
                for f in glob.glob(os.path.join(d, "part-*")):
                    with open(f, "rb") as fh:
                        lines += sum(1 for _ in fh)
                if lines != 2 * rows.get(step, -1):
                    failures.append(f"{step}.sink: {lines} bulk lines for {rows.get(step)} rows")
            elif sink == "SnapshotStore.write":
                snaps = sorted(x for x in os.listdir(d) if x.startswith("snapshot_ts="))
                n = sum(pq.read_metadata(f).num_rows
                        for f in glob.glob(os.path.join(d, snaps[-1], "*.parquet")))
                if len(snaps) != 1 or n != rows.get(step):
                    failures.append(f"{step}.sink: snapshots {snaps}, {n} rows in the newest")
            else:
                failures.append(f"{step}.sink: no check for {sink}")
        except (OSError, IndexError, ValueError) as e:
            failures.append(f"{step}.sink: {type(e).__name__}: {e}")
    return failures


def quality(check_dir, manifest):
    """`ann_recall_at_10`: the ANN probe's recall against the exact top-k,
    when the run wrote one. `dedup_recall`: the smallest share of the
    seed-planted near-duplicate pairs an approximate dedup step reports,
    when the run ran them."""
    out = {"failures": []}
    if os.path.isdir(os.path.join(check_dir, "ann_exact")):
        ann = _read(os.path.join(check_dir, "ann_result"), ["query_id", "neighbor_id", "rank"])
        exact = _read(os.path.join(check_dir, "ann_exact"), ["query_id", "neighbor_id"])
        truth, got = {}, {}
        for q, n in zip(exact["query_id"], exact["neighbor_id"]):
            truth.setdefault(q, set()).add(n)
        for q, n, _ in sorted(zip(ann["query_id"], ann["neighbor_id"], ann["rank"]),
                              key=lambda x: (x[0], x[2])):
            if n != q and len(got.setdefault(q, [])) < 10:
                got[q].append(n)
        recalls = [len(truth[q] & set(got.get(q, []))) / len(truth[q]) for q in truth]
        out["ann_recall_at_10"] = statistics.mean(recalls) if recalls else 0.0
    steps = [s for s in DEDUP_STEPS if os.path.isdir(os.path.join(check_dir, s))]
    for step in steps:
        planted = {tuple(sorted(p)) for p in manifest["doc_pairs"]}
        if not planted:
            continue
        found = _read(os.path.join(check_dir, step), ["id1", "id2"])
        pairs = {tuple(sorted(p)) for p in zip(found["id1"], found["id2"])}
        out[f"recall.{step}"] = len(planted & pairs) / len(planted)
    recalls = [v for k, v in out.items() if k.startswith("recall.")]
    if recalls:
        out["dedup_recall"] = min(recalls)
    if "ann_recall_at_10" not in out and "dedup_recall" not in out:
        out["failures"].append("recall: no ANN probe or dedup output to measure")
    return out


# -------------------------------------------------------------- end to end

def end_to_end(raw, quality, attempted, failed):
    passes = [p for p in raw["passes"] if p["kind"] == "timed"]
    if raw["requests"]:
        lat = [r["ms"] for r in raw["requests"]]
    else:  # batch: every step of every pass is one request to the engine
        lat = [ms for p in passes for _, ms in p["steps"]]
    return {
        "setup_s": (raw["setup"]["setup_s"], "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "req_p50_ms": (quantile(lat, 0.5), "ms"),
        "req_p90_ms": (quantile(lat, 0.9), "ms"),
        "ok_frac": (1.0 - failed / attempted, "frac"),
        "heap_retained_mb": (statistics.median(p["heap_mb"] for p in passes), "MB"),
        # the recall of the workload's own approximate output: planted-pair
        # dedup recall (nightly), ANN recall@10 of the requests' index
        # (interactive)
        "recall": (quality.get("dedup_recall", quality.get("ann_recall_at_10", 0.0)), "frac"),
    }


# --------------------------------------------------------------- per layer

def self_times(spans):
    """span id → duration minus the union of its children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: (s["end_ms"] - s["start_ms"]
                      - covered([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])],
                                s["start_ms"], s["end_ms"])) / 1e3
            for s in spans}


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def per_layer(raw, cores, rows, quality):
    tr = raw["trace"]
    spans = [s for s in tr["spans"] if s["kind"] in ("traced", "fn")]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1e3

    def subtree(s):
        yield s
        for c in kids.get(s["id"], []):
            yield from subtree(c)

    def total(ss, key):
        return sum(x["counters"].get(key, 0.0) for s in ss for x in subtree(s))

    def own(s, f):
        """The spans of s's subtree that family f pays for: the subtree less
        what nests under a span of another family (a step's write)."""
        yield s
        for c in kids.get(s["id"], []):
            if c["layer"] in FAMILIES and c["layer"] != f:
                continue
            yield from own(c, f)

    def own_wall(s, f):
        others = [c for x in own(s, f) for c in kids.get(x["id"], [])
                  if c["layer"] in FAMILIES and c["layer"] != f]
        return dur(s) - covered([(c["start_ms"], c["end_ms"]) for c in others],
                                s["start_ms"], s["end_ms"]) / 1e3

    pass_spans = [s for s in spans if s["kind"] == "traced" and s["name"] == "pass"]
    n = max(1, len(pass_spans))
    traced = [s for s in spans if s["kind"] == "traced"]
    m = {}
    for f in FAMILIES:
        outer = [s for s in traced if s["layer"] == f
                 and by_id.get(s["parent"], {}).get("layer") != f]
        mine = [x for s in outer for x in own(s, f)]
        m[f"{f}.wall_s"] = (sum(own_wall(s, f) for s in outer) / n, "s")
        m[f"{f}.build_s"] = (sum(dur(s) for s in traced if s["layer"] == f
                                 and s["name"].endswith(".build")) / n, "s")
        m[f"{f}.jobs"] = (sum(x["counters"].get("jobs", 0.0) for x in mine) / n, "count")
        m[f"{f}.task_s"] = (sum(x["counters"].get("task_s", 0.0) for x in mine) / n, "s")
    walls = [dur(s) for s in pass_spans]
    gaps = [dur(s) - covered(tr["tasks"], s["start_ms"], s["end_ms"]) / 1e3 for s in pass_spans]
    m["driver_gap_s"] = (statistics.mean(gaps) if gaps else 0.0, "s")
    for key, unit in COUNTERS:
        m[key] = (total(pass_spans, key) / n, unit)
    mean_wall = statistics.mean(walls) if walls else 0.0
    m["core_util"] = (m["task_s"][0] / (mean_wall * cores) if mean_wall else 0.0, "frac")
    for f in FN_FAMILIES:
        m[f"fn.{f}.task_s"] = (total([s for s in spans if s["layer"] == f"fn.{f}"], "task_s"), "s")
    m["storage_peak_mb"] = (tr["storage_peak_mb"], "MB")
    m["peak_exec_mem_mb"] = (max([x["counters"].get("peak_exec_mem_mb", 0.0)
                                  for s in pass_spans for x in subtree(s)] or [0.0]), "MB")
    steps = [c for p in pass_spans for c in kids.get(p["id"], [])]
    sinks = [c for s in steps for c in kids.get(s["id"], [])
             if not c["name"].endswith(".build") and c["name"] != "noop"]
    m["write_s"] = (sum(dur(s) for s in sinks) / n, "s")
    m["plan_ms"] = (sum(ms for start, ms in tr["plans"]
                        if any(p["start_ms"] <= start <= p["end_ms"] for p in pass_spans)) / n,
                    "ms")
    untraced = [r for r in raw["requests"] if r["kind"] == "untraced"]
    for t in REQUEST_TYPES:
        m[f"req.{t}.p50_ms"] = (quantile([r["ms"] for r in untraced if r["type"] == t], 0.5), "ms")
    req_spans = [s for s in steps if s["name"].startswith("req.")]
    m["req.jobs_per_req"] = (total(req_spans, "jobs") / len(req_spans) if req_spans else 0.0,
                             "count")
    m["rows_out"] = (float(sum(rows.values())), "count")
    untraced_walls = [p["wall_s"] for p in raw["passes"] if p["kind"] == "untraced"]
    m["trace_overhead_s"] = ((statistics.median(walls) - statistics.median(untraced_walls))
                             if walls and untraced_walls else 0.0, "s")
    selfs = self_times(spans)
    m["harness_self_s"] = (sum(selfs[s["id"]] for s in pass_spans + steps) / n, "s")
    m["session_start_s"] = (raw["setup"]["session_s"], "s")
    m["probe_s"] = (raw["check"]["probe_s"], "s")
    for key in ("ann_recall_at_10", "dedup_recall"):
        m[key] = (quality.get(key, 0.0), "frac")
    return m

"""Turns the harness's raw measurements into the benchmark's metrics.

Pure functions over the JSON the harness writes; perfbench/run.py
calls `end_to_end` for an untraced run and `per_layer` for a traced
one. No Spark, no JVM: everything here is unit-tested directly.
"""
import hashlib
import math
import statistics

ENGINE_QUERIES = {"q_pagerank_top", "q_cc_sizes", "q_lpa", "q_bfs_depths",
                  "q_sssp", "q_sssp_weighted"}
KERNEL_QUERIES = {"q_pagerank_kernel", "q_cc_kernel", "q_bfs_kernel",
                  "q_sssp_kernel", "q_ssspw_kernel", "q_degree_kernel",
                  "q_lpa_kernel"}
GRAPH_QUERIES = ["q_triangles", "q_pagerank_top", "q_pagerank_kernel",
                 "q_cc_kernel", "q_bfs_kernel", "q_sssp_kernel",
                 "q_ssspw_kernel", "q_degree_kernel", "q_cc_sizes", "q_lpa",
                 "q_lpa_kernel", "q_bfs_depths", "q_sssp", "q_sssp_weighted",
                 "q_degree_in", "q_degree_out", "q_mode_degree",
                 "q_vertex_classes"]

# Each workload's two timed op kinds: (primary_s, secondary_s). On
# graph_queries both come from the one cold pass: primary_s is the whole
# pass, secondary_s the median query in it.
OP_KINDS = {
    "kernel_loops": ("pr", "lpa"),
    "fresh_graph": ("fresh", "resume"),
    "graph_queries": ("cold", "query"),
}
SUPERSTEP_FIELDS = ["count", "p50_ms", "gather_ms", "gather_cpu_ms", "apply_ms",
                    "apply_cpu_ms", "barrier_ms", "shuffle_bytes", "gc_ms",
                    "active_sum"]


# ------------------------------------------------------------------ statistics

def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def highest_percentile(n, beyond=10, step=5):
    """Highest percentile, on a ladder of `step`, that leaves at least
    `beyond` samples above it; None when even the median does not."""
    best = None
    p = 50
    while p < 100:
        if n * (100 - p) / 100.0 >= beyond:
            best = p
        p += step
    return best


def percentile(xs, p):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


# ------------------------------------------------------------------ spans

def self_times(spans):
    """Self time of each span: its duration minus the part of it that
    its children cover (overlapping children are counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, cur = 0.0, lo
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], cur), min(c["end_ms"], hi)
            if b > a:
                covered += b - a
                cur = b
        out[s["id"]] = (hi - lo) - covered
    return out


def self_time_by_name(spans):
    """Summed self time per span name, in ms."""
    st = self_times(spans)
    by = {}
    for s in spans:
        by[s["name"]] = by.get(s["name"], 0.0) + st[s["id"]]
    return {k: round(v, 3) for k, v in sorted(by.items(), key=lambda kv: -kv[1])}


def subtree(spans, root_id):
    ids, frontier = {root_id}, [root_id]
    while frontier:
        p = frontier.pop()
        for s in spans:
            if s["parent"] == p and s["id"] not in ids:
                ids.add(s["id"])
                frontier.append(s["id"])
    return ids


# ------------------------------------------------------------------ canonical hash

def canonical_hash(columns, rows):
    """Result hash with dev/compare_oracles.py's canonicalisation: columns
    sorted by name, rows sorted, CSV with floats as %.10g, sha256[:12].
    `columns` is [[name, spark_type]]; integer columns holding nulls
    become floats, as they do when parquet is read into pandas."""
    import pandas as pd
    data = {}
    for i, (name, typ) in enumerate(columns):
        vals = [r[i] for r in rows]
        if typ in ("bigint", "int", "smallint", "tinyint"):
            dtype = "float64" if any(v is None for v in vals) else (
                "int32" if typ == "int" else "int64")
        elif typ in ("double", "float") or typ.startswith("decimal"):
            dtype = "float64"
        elif typ == "boolean":
            dtype = "bool"
        else:
            dtype = "object"
        data[name] = pd.Series([float("nan") if v is None and dtype == "float64" else v
                                for v in vals], dtype=dtype)
    df = pd.DataFrame(data, columns=[c[0] for c in columns])
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    csv = df.to_csv(index=False, float_format="%.10g")
    return hashlib.sha256(csv.encode()).hexdigest()[:12]


# ------------------------------------------------------------------ ops

def ops_of(raw, kind):
    return [o for o in raw["ops"] if o["kind"] == kind]


def steady(ops):
    """Ops measured after the JIT warm-up (all of them when every op was
    warm-up)."""
    return [o for o in ops if not o.get("warmup")] or ops


def query_failures(raw, golden):
    """(attempted, failed, details) for graph_queries: every query run
    in every pass is one op; a result whose canonical hash differs from
    the stored one, or that is missing, fails."""
    results = raw["info"].get("query_results", {})
    attempted, failed, details = 0, 0, []
    for o in raw["ops"]:
        for q in GRAPH_QUERIES:
            attempted += 1
            res = results.get("%s#%d/%s" % (o["kind"], o["index"], q))
            want = golden.get(q)
            got = canonical_hash(res["columns"], res["rows"]) if res else None
            if got is None or got != want:
                failed += 1
                details.append("%s#%d/%s: hash %s, want %s" % (o["kind"], o["index"], q, got, want))
    return attempted, failed, details


def accounting(raw, golden):
    """(attempted, failed, details): every op counts; an op fails on an
    error or a failed output check, and, for the default seed, on a
    result hash that differs from the stored one."""
    w = raw["workload"]
    if w == "graph_queries":
        return query_failures(raw, golden.get("graph_queries", {}))
    stored = golden.get(w, {})
    check_hash = bool(stored) and raw["seed"] == stored.get("seed")
    details = []
    for o in raw["ops"]:
        want = stored.get(o["kind"]) if check_hash else None
        if not o["ok"]:
            details.append("%s#%d: %s" % (o["kind"], o["index"], o["detail"]))
        elif want is not None and o["extra"].get("hash") != want:
            details.append("%s#%d: hash %s, want %s" % (o["kind"], o["index"], o["extra"].get("hash"), want))
    return len(raw["ops"]), len(details), details


# ------------------------------------------------------------------ end to end

def op_seconds(raw, kind):
    """Timings of the steady ops of one kind; kind "query" is every query
    of every graph_queries pass."""
    if kind == "query":
        return [t for o in raw["ops"] for t in o["extra"]["query_s"].values()]
    return [o["s"] for o in steady(ops_of(raw, kind))]


def end_to_end(raw):
    a, b = OP_KINDS[raw["workload"]]
    return {
        "setup_s": (raw["session_ready_s"] + median(raw["setup_reps_s"]), "s"),
        "primary_s": (median(op_seconds(raw, a)), "s"),
        "secondary_s": (median(op_seconds(raw, b)), "s"),
    }


# ------------------------------------------------------------------ per layer

class Listener:
    """Index over the listener's job and stage records."""

    def __init__(self, data):
        data = data or {"jobs": [], "stages": [], "writes": []}
        self.jobs = data["jobs"]
        self.writes = data["writes"]
        self.stages = {}
        for s in data["stages"]:
            self.stages[s["id"]] = s  # the last attempt wins

    def jobs_in(self, span_ids):
        return [j for j in self.jobs if j["span"] in span_ids]

    def stages_of(self, jobs):
        seen, out = set(), []
        for j in jobs:
            for sid in j["stages"]:
                if sid in self.stages and sid not in seen:
                    seen.add(sid)
                    out.append(self.stages[sid])
        return out

    def totals(self, jobs):
        st = self.stages_of(jobs)
        return {
            "jobs": len(jobs),
            "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "cpu_ms": sum(s["cpu_ms"] for s in st),
            "shuffle_bytes": sum(s["shuffle_write_bytes"] for s in st),
            "spill_bytes": sum(s["spill_disk_bytes"] for s in st),
        }

    def supersteps(self, jobs):
        """Per superstep (by job group, in iteration order): the first
        job's gather (shuffle-map stages) and apply (result stage) wall
        and CPU, its shuffle bytes, and the last job end."""
        groups = {}
        for j in jobs:
            g = j["group"]
            if g.startswith("graft-superstep-"):
                groups.setdefault(int(g.rsplit("-", 1)[1]), []).append(j)
        out = []
        for it in sorted(groups):
            js = sorted(groups[it], key=lambda j: j["id"])
            first = js[0]
            st = [self.stages[s] for s in first["stages"] if s in self.stages]
            if not st:
                continue
            res = max(st, key=lambda s: s["id"])
            gat = [s for s in st if s is not res]
            out.append({
                "iter": it,
                "gather_ms": sum(max(0, s["done_ms"] - s["submit_ms"]) for s in gat),
                "gather_cpu_ms": sum(s["cpu_ms"] for s in gat),
                "apply_ms": max(0, res["done_ms"] - res["submit_ms"]),
                "apply_cpu_ms": res["cpu_ms"],
                "shuffle_bytes": sum(s["shuffle_write_bytes"] for s in st),
                "end_ms": max(j["end_ms"] for j in js),
            })
        return out


def _spans_named(raw, name):
    return [s for s in raw["spans"] if s["name"] == name]


def _layer(raw, lst, name):
    """Wall, task CPU, shuffle, spill, job count and GC of every instance
    of a layer span; medians over instances."""
    rows = []
    for s in _spans_named(raw, name):
        t = lst.totals(lst.jobs_in(subtree(raw["spans"], s["id"])))
        t["wall_ms"] = s["end_ms"] - s["start_ms"]
        t["gc_ms"] = s["gc_ms"]
        rows.append(t)
    return {k: median([r.get(k) for r in rows]) for k in
            set().union(*rows)} if rows else {}


def _superstep(raw, lst, kind, span_name):
    """Superstep metrics of the steady ops of one kind: counts and walls
    from the solves' own IterMetrics, phases from the listener's
    superstep jobs inside each op's `span_name` span."""
    ops = steady(ops_of(raw, kind))
    walls = [ms for o in ops for ms in o["extra"].get("iter_ms", [])]
    out = {f: 0.0 for f in SUPERSTEP_FIELDS}
    if not ops:
        return out, walls
    out["count"] = median([o["extra"].get("iterations") for o in ops])
    out["p50_ms"] = median(walls)
    out["active_sum"] = median([sum(o["extra"].get("active", [])) for o in ops])
    per_solve = []
    for o in ops:
        if o["_span"] is None:
            continue
        ids = subtree(raw["spans"], o["_span"])
        for s in raw["spans"]:
            if s["id"] not in ids or s["name"] != span_name:
                continue
            steps = lst.supersteps(lst.jobs_in(subtree(raw["spans"], s["id"])))
            row = {k: sum(x[k] for x in steps) for k in
                   ("gather_ms", "gather_cpu_ms", "apply_ms", "apply_cpu_ms", "shuffle_bytes")}
            row["barrier_ms"] = sum(max(0.0, w - x["gather_ms"] - x["apply_ms"])
                                    for w, x in zip(o["extra"].get("iter_ms", []), steps))
            row["gc_ms"] = s["gc_ms"]
            per_solve.append(row)
    for k in ("gather_ms", "gather_cpu_ms", "apply_ms", "apply_cpu_ms", "shuffle_bytes",
              "barrier_ms", "gc_ms"):
        out[k] = median([r[k] for r in per_solve])
    return out, walls


def _attach_op_spans(raw):
    """Pair each op record with its op span (same kind, same order)."""
    for kind in {o["kind"] for o in raw["ops"]}:
        spans = [s for s in raw["spans"] if s["name"] == "op." + kind]
        for o, s in zip(ops_of(raw, kind), spans):
            o["_span"] = s["id"]
    for o in raw["ops"]:
        o.setdefault("_span", None)


def _query_barriers(raw, lst):
    """Per-superstep barrier of the queries' superstep loops: the time
    between consecutive superstep jobs' ends, less their gather and
    apply stage walls. Split by executor: Catalyst engine or kernel."""
    eng, ker = [], []
    for s in raw["spans"]:
        if not s["name"].startswith("query."):
            continue
        q = s["name"][len("query."):]
        steps = lst.supersteps(lst.jobs_in(subtree(raw["spans"], s["id"])))
        for prev, cur in zip(steps, steps[1:]):
            b = (cur["end_ms"] - prev["end_ms"]) - cur["gather_ms"] - cur["apply_ms"]
            (eng if q in ENGINE_QUERIES else ker if q in KERNEL_QUERIES else []).append(max(0, b))
    return median(eng), median(ker)


def _scaling(raw, n):
    hi, lo = raw["info"].get("scaling_local%d" % n), raw["info"].get("scaling_local1")
    out = {"scaling.pr_p50_ms_1core": 0.0, "scaling.pr_strong_eff_1_n": 0.0,
           "scaling.pr_gather_cpu_ratio_n_1": 0.0, "scaling.pr_shuffle_bytes_ratio_n_1": 0.0}
    if not hi or not lo:
        return out
    p_hi, p_lo = median(hi["iter_ms"]), median(lo["iter_ms"])
    s_hi = Listener(hi["listener"]).supersteps(Listener(hi["listener"]).jobs)
    s_lo = Listener(lo["listener"]).supersteps(Listener(lo["listener"]).jobs)

    def ratio(k):
        d = sum(x[k] for x in s_lo)
        return sum(x[k] for x in s_hi) / d if d else 0.0
    out["scaling.pr_p50_ms_1core"] = p_lo
    out["scaling.pr_strong_eff_1_n"] = p_lo / (n * p_hi) if p_hi else 0.0
    out["scaling.pr_gather_cpu_ratio_n_1"] = ratio("gather_cpu_ms")
    out["scaling.pr_shuffle_bytes_ratio_n_1"] = ratio("shuffle_bytes")
    return out


def _ckpt(raw, lst):
    """Checkpoint saves of each fresh op (parquet writes under its
    ckpt directory), and the resume's checkpoint read: from the end of
    its cache load to its first superstep job."""
    saves, ms, nbytes = [], [], []
    for o in ops_of(raw, "fresh"):
        tag = "/fresh-%d/ckpt/" % o["index"]
        ws = [w for w in lst.writes if tag in w["path"]]
        saves.append(len(ws))
        ms.append(sum(w["ms"] for w in ws))
        nbytes.append(sum(w["bytes"] for w in ws))
    loads = []
    by_id = {s["id"]: s for s in raw["spans"]}
    for o in ops_of(raw, "resume"):
        if o["_span"] is None:
            continue
        ids = subtree(raw["spans"], o["_span"])
        cl = [by_id[i] for i in ids if by_id[i]["name"] == "cache.load"]
        steps = [j for j in lst.jobs_in(ids) if j["group"].startswith("graft-superstep-")]
        if cl and steps:
            loads.append(min(j["start_ms"] for j in steps) - cl[0]["end_ms"])
    return {"ckpt.saves": median(saves), "ckpt.save_ms": median(ms),
            "ckpt.bytes": median(nbytes), "ckpt.load_ms": median(loads)}


def tracing_overhead(traced_raw, untraced_raws):
    """Traced run's primary_s against the median primary_s of untraced
    runs of the same workload, in percent; 0 when there is none yet."""
    base = median([end_to_end(r)["primary_s"][0] for r in untraced_raws])
    if not base:
        return 0.0
    return (end_to_end(traced_raw)["primary_s"][0] / base - 1.0) * 100.0


def layer_unit(name):
    if name.endswith("_ms") or "_ms_" in name:
        return "ms"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("_mb"):
        return "MB"
    if "_ratio_" in name or "_eff_" in name:
        return "ratio"
    if name.endswith("exchange_doubles"):
        return "doubles"
    return "count"


def per_layer(raw, cores, untraced_raws=()):
    """Every per-layer metric as {name: (value, unit)}; 0 where the
    workload does not exercise the layer. `untraced_raws` are untraced
    runs of the same workload, the base of the tracing overhead."""
    m = _per_layer(raw, cores)
    m["trace.overhead_pct"] = tracing_overhead(raw, untraced_raws)
    return {k: (v, layer_unit(k)) for k, v in m.items()}


def _per_layer(raw, cores):
    _attach_op_spans(raw)
    lst = Listener(raw.get("listener"))
    m = {}
    ing = _layer(raw, lst, "ingest")
    m["ingest.wall_ms"] = ing.get("wall_ms", 0.0)
    m["ingest.task_cpu_ms"] = ing.get("cpu_ms", 0.0)
    m["ingest.shuffle_bytes"] = ing.get("shuffle_bytes", 0.0)
    m["ingest.spill_bytes"] = ing.get("spill_bytes", 0.0)
    fresh = steady(ops_of(raw, "fresh"))
    m["ingest.edges"] = median([o["extra"].get("edges") for o in fresh])
    m["ingest.sha_violations"] = max([o["extra"].get("sha_violations", 0) for o in fresh] or [0])

    comp = _layer(raw, lst, "compile")
    m["compile.wall_ms"] = comp.get("wall_ms", 0.0)
    m["compile.task_cpu_ms"] = comp.get("cpu_ms", 0.0)
    m["compile.shuffle_bytes"] = comp.get("shuffle_bytes", 0.0)
    m["compile.jobs"] = comp.get("jobs", 0.0)
    m["compile.gc_ms"] = comp.get("gc_ms", 0.0)
    m["compile.edges"] = median([o["extra"].get("E") for o in fresh])
    m["compile.vertices"] = median([o["extra"].get("V") for o in fresh])

    m["cache.save_ms"] = median([s["end_ms"] - s["start_ms"] for s in _spans_named(raw, "cache.save")])
    m["cache.save_bytes"] = median([o["extra"].get("cache_bytes") for o in fresh])
    m["cache.load_ms"] = median([s["end_ms"] - s["start_ms"] for s in _spans_named(raw, "cache.load")])
    m["cache.hits"] = raw["cache_hits"]
    m["cache.misses"] = raw["cache_misses"]

    pr_walls = []
    for algo, kind in (("pr", "pr"), ("lpa", "lpa"), ("cc", "fresh")):
        vals, walls = _superstep(raw, lst, kind, "superstep." + algo)
        if algo == "cc":
            # the resumes' supersteps are CC supersteps too
            walls = walls + _superstep(raw, lst, "resume", "superstep.cc")[1]
            vals["p50_ms"] = median(walls)
        for f in SUPERSTEP_FIELDS:
            m["superstep.%s.%s" % (algo, f)] = vals[f]
        if algo == "pr":
            pr_walls = walls
    enough = (highest_percentile(len(pr_walls)) or 0) >= 85
    m["superstep.pr.p85_ms"] = percentile(pr_walls, 85) if enough else 0.0
    m["superstep.pr.exchange_doubles"] = raw["info"].get("exchange_doubles", 0)

    m.update(_scaling(raw, cores))
    m.update(_ckpt(raw, lst))

    cold = ops_of(raw, "cold")
    for q in GRAPH_QUERIES:
        m["queries.%s_cold_ms" % q] = cold[0]["extra"]["query_s"][q] * 1000.0 if cold else 0.0
    tot = {"jobs": 0, "stages": 0, "tasks": 0}
    if cold and cold[0]["_span"] is not None:
        tot = lst.totals(lst.jobs_in(subtree(raw["spans"], cold[0]["_span"])))
    m["queries.jobs"] = tot["jobs"]
    m["queries.stages"] = tot["stages"]
    m["queries.tasks"] = tot["tasks"]
    m["queries.engine_barrier_p50_ms"], m["queries.kernel_barrier_p50_ms"] = _query_barriers(raw, lst)

    m["jvm.gc_ms"] = raw["jvm_gc_ms"]
    m["jvm.jit_ms"] = raw["jvm_jit_ms"]
    m["jvm.peak_heap_mb"] = raw["peak_heap_after_gc_mb"]
    return m

"""Turns a raw run record written by the JVM side (samples, counters,
spans, Spark jobs) into the benchmark's named metrics.

Pure functions over plain data, so the percentile rule, the span
arithmetic and the metric names are testable without a JVM.
"""
import json
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

# workload -> the classes of its unit operation, each a tuple of sample
# kinds pooled into one median (operator_pipelines: one class per arm)
OP_CLASSES = {"ingest_churn": (("ingest.reindex",),)}
PHASES = {"index_bulk": ("ingest.bulk",), "reindex": ("ingest.reindex", "ingest.noop"),
          "compact": ("state.compact",), "get": ("read.get_",), "list": ("read.list_",)}
PHASE_FIELDS = ("jobs", "tasks", "task_s", "busy", "shuffle_bytes", "spill_bytes",
                "input_bytes", "output_bytes")
LAYERS = {"archive": "archive", "index": "index", "ingest": "index", "state": "state",
          "read": "read", "watch": "watch", "op": "queries", "spark": "spark"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest whole percentile with at least ten samples beyond it.

    Nearest-rank percentiles over the sorted samples; "beyond" counts the
    samples ranked after the percentile's sample. Returns (value,
    percentile, samples). With fewer than 20 samples no percentile from
    50 up has ten beyond it: the maximum is returned with percentile 100.
    """
    n = len(xs)
    s = sorted(xs)
    for p in range(99, 49, -1):
        k = max(1, math.ceil(p / 100 * n))
        if n - k >= 10:
            return s[k - 1], p, n
    return (s[-1] if s else 0.0), 100, n


def self_times(spans):
    """Self time of each span: its duration minus the union of the parts
    of its interval its children cover. `spans` is a list of
    (id, name, parent, start, end); returns {id: self time}.
    """
    kids = {}
    for sid, _, parent, start, end in spans:
        kids.setdefault(parent, []).append((start, end))
    out = {}
    for sid, _, _, start, end in spans:
        covered, cur_s, cur_e = 0, None, None
        for cs, ce in sorted((max(cs, start), min(ce, end)) for cs, ce in kids.get(sid, [])):
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out


def attach_jobs(spans, jobs):
    """Spark jobs as child spans of the innermost recorded span that
    contains the job's start (time-window attribution, sound with one
    client). Returns spans + job spans and {job id -> root span name}.
    """
    by_id = {s[0]: s for s in spans}
    next_id = max([s[0] for s in spans], default=-1) + 1
    out, phase = list(spans), {}
    for j in jobs:
        start, end = j[1], j[2]
        inside = [s for s in spans if s[3] <= start <= s[4]]
        parent = min(inside, key=lambda s: s[4] - s[3]) if inside else None
        out.append((next_id, "spark.job", parent[0] if parent else -1, start, end))
        root = parent
        while root is not None and root[2] != -1:
            root = by_id.get(root[2])
        phase[j[0]] = root[1] if root else None
        next_id += 1
    return out, phase


def op_ms(S, classes):
    """The gated latency: the mean over operation classes of each class's
    median, in ms; a class pools the samples of its kinds. Classes differ
    in cost (one arm about twice another), so a median over all samples
    would sit on whichever class the 50th percentile lands in; per-class
    medians weigh every class alike."""
    meds = [median(xs) for xs in ([x for k in c for x in S.get(k, [])] for c in classes) if xs]
    return sum(meds) / len(meds) if meds else 0.0


def trace_overhead(S, kinds):
    """Traced over untraced median latency, per operation kind, averaged
    with the traced sample counts as weights; in percent."""
    num = den = 0.0
    for k in kinds:
        tr, un = S.get(k + "@traced", []), S.get(k + "@untraced", [])
        if tr and un:
            num += len(tr) * median(tr) / median(un)
            den += len(tr)
    return (num / den - 1) * 100 if den else 0.0


def layer_of(name):
    return LAYERS.get(name.split(".", 1)[0])


def compute(rec, workload, arms):
    """All metrics of one run: (end-to-end dict, per-layer dict, detail)."""
    S = rec["samples"]
    V = rec["values"]

    def samples(*prefixes):
        return [x for k, xs in S.items() if "@" not in k and k.startswith(prefixes) for x in xs]

    op_classes = OP_CLASSES.get(workload, tuple(("op." + a,) for a in arms))
    op_kinds = tuple(k for c in op_classes for k in c)
    op = [x for k in op_kinds for x in S.get(k, [])]
    loop_s = V.get("loop_s", 0.0) or 1e-9
    e2e = {
        "setup_s": median(S.get("setup_unit_s", [])),
        "op_ms": op_ms(S, op_classes),
    }
    jobs = rec["jobs"]
    spans = [tuple(s) for s in rec["spans"]]
    # while origins are watched, passes overlap reads and time windows no
    # longer tell whose job is whose: those jobs count in run totals only
    w_spans = [s for s in spans if s[1].startswith("watch.")]
    w_lo = min((s[3] for s in w_spans), default=None)
    w_hi = max((s[4] for s in w_spans), default=None)
    attributable = [j for j in jobs if w_lo is None or not w_lo <= j[1] <= w_hi]
    all_spans, job_phase = attach_jobs(spans, attributable)
    selfs = self_times(all_spans)
    layer_self = {l: 0.0 for l in sorted(set(LAYERS.values()))}
    for s in all_spans:
        l = layer_of(s[1])
        if l:
            layer_self[l] += selfs[s[0]] / 1e9
    cores = rec.get("cores", 1)

    def job_stats(js, roots):
        wall = sum((s[4] - s[3]) for s in roots) / 1e9
        task_s = sum(j[4] for j in js) / 1e3
        n = max(len(roots), 1)
        return {
            "jobs": len(js) / n, "tasks": sum(j[3] for j in js) / n, "task_s": task_s / n,
            "busy": task_s / (wall * cores) if wall > 0 else 0.0,
            "shuffle_bytes": sum(j[5] for j in js) / n, "spill_bytes": sum(j[6] for j in js) / n,
            "input_bytes": sum(j[7] for j in js) / n, "output_bytes": sum(j[8] for j in js) / n,
            "input_records": sum(j[9] for j in js) / n,
        }

    roots = [s for s in spans if s[2] == -1]
    per = {}
    op_tail = tail(op)
    per["op_ms_tail"], per["op_tail_pct"], per["op_samples"] = op_tail
    attempted = max(rec.get("attempted", 0), 1)
    per["error_rate"] = rec.get("failed", 0) / attempted
    per["trace.overhead_pct"] = trace_overhead(S, op_kinds)
    per["trace.spans"] = len(all_spans)
    for l, v in layer_self.items():
        per[f"layer.{l}.self_s"] = v
    run_task_s = sum(j[4] for j in jobs) / 1e3
    per["spark.run.jobs"] = len(jobs)
    per["spark.run.tasks"] = sum(j[3] for j in jobs)
    per["spark.run.task_s"] = run_task_s
    per["spark.run.busy"] = run_task_s / (loop_s * cores)
    traced_ops = [s for s in roots if s[1] in op_kinds]
    plan_ms = sum(p[1] for p in rec.get("plans", []))
    per["plan.ms_per_op"] = plan_ms / max(len(traced_ops), 1)
    per["jvm.gc_s"] = rec["jvm"]["gc_s"]
    per["jvm.heap_peak_mb"] = rec["jvm"]["heap_peak_mb"]

    # workload-specific end-to-end figures, reported per layer (unbounded)
    bulk = S.get("ingest.bulk", [])
    reindex = [x / 1e3 for x in S.get("ingest.reindex", [])]
    gets, lists = samples("read.get_"), samples("read.list_")
    vis = S.get("watch.visible_s", [])
    per["bulk_files_per_s"] = V.get("input.files", 0) / (sum(bulk) / 1e3) if bulk else 0.0
    per["reindex_s_p50"] = median(reindex)
    per["reindex_s_tail"] = tail(reindex)[0] if reindex else 0.0
    per["compact_s"] = V.get("compact_s", 0.0)
    per["state_bytes_per_input_byte"] = V.get("state.bytes", 0) / V["input.bytes"] if V.get("input.bytes") else 0.0
    per["get_ms_p50"] = median(gets)
    per["get_ms_tail"] = tail(gets)[0] if gets else 0.0
    per["list_ms_p50"] = median(lists)
    per["list_ms_tail"] = tail(lists)[0] if lists else 0.0
    per["reads_per_s"] = V.get("serve.loop.ops", 0) / V["serve.loop_s"] if V.get("serve.loop_s") else 0.0
    wgets, wlists = samples("watch.read.get_"), samples("watch.read.list_")
    per["watch.get_ms_p50"] = median(wgets)
    per["watch.list_ms_p50"] = median(wlists)
    per["watch.reads_per_s"] = V.get("watch.loop.ops", 0) / V["watch.loop_s"] if V.get("watch.loop_s") else 0.0
    per["visible_s_p50"] = median(vis)
    per["visible_s_tail"] = tail(vis)[0] if vis else 0.0
    per["pipelines_s"] = median(S.get("op.pass_s", []))

    # core.Archive and the index path
    per["archive.list_s"] = median(S.get("archive.list_s", []))
    reidx_roots = [s for s in roots if s[1] == "ingest.reindex"]
    reidx_jobs = [j for j in jobs if job_phase.get(j[0]) == "ingest.reindex"]
    changed = S.get("churn.changed_bytes", [])
    in_per_pass = job_stats(reidx_jobs, reidx_roots)["input_bytes"] if reidx_roots else 0.0
    per["archive.input_bytes_per_pass"] = in_per_pass
    per["archive.read_amplification"] = in_per_pass / median(changed) if changed and in_per_pass else 0.0
    per["index.views_s"] = median(S.get("index.views_s", []))
    per["index.tail_s"] = median(S.get("index.tail_s", []))
    per["index.noop_s"] = median(S.get("ingest.noop", [])) / 1e3
    per["index.reindex_vs_bulk"] = (median(reindex) / (median(bulk) / 1e3)) if reindex and bulk else 0.0

    # state dir
    per["state.files_precompact"] = V.get("state.precompact_files", 0)
    per["state.files"] = V.get("state.files", 0)
    per["state.bytes"] = V.get("state.bytes", 0)
    per["compact.bytes_rewritten"] = V.get("compact.bytes_rewritten", 0)

    # read path
    for k in ("get_map", "get_reduced", "get_folds", "list_fwd", "list_rev"):
        per[f"read.{k}_ms"] = median(samples(f"read.{k}"))
    for ph, names in PHASES.items():
        ph_roots = [s for s in roots if s[1].startswith(names)]
        ph_jobs = [j for j in jobs if (job_phase.get(j[0]) or "").startswith(names)]
        st = job_stats(ph_jobs, ph_roots) if ph_roots \
            else {f: 0.0 for f in PHASE_FIELDS + ("input_records",)}
        for f in PHASE_FIELDS:
            per[f"spark.{ph}.{f}"] = st[f]
        if ph == "get":
            per["read.jobs_per_get"] = st["jobs"]
            get_records, get_n = st["input_records"] * len(ph_roots), len(ph_roots)
        if ph == "list":
            per["read.jobs_per_list"] = st["jobs"]
            scanned = get_records + st["input_records"] * len(ph_roots)
            returned = V.get("read.rows_returned@traced", 0)
            per["read.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0

    # watch
    per["watch.detect_s"] = median(S.get("watch.detect_s", []))
    per["watch.pass_s"] = median(S.get("watch.pass_s", []))
    per["watch.edits_per_pass"] = median(S.get("watch.edits_per_pass", []))
    per["watch.writer_lag_s"] = max(S.get("watch.writer_lag_s", [0.0]))
    per["watch.backlog"] = V.get("watch.backlog", 0)

    # queries, per arm
    for a in arms:
        a_roots = [s for s in roots if s[1] == "op." + a]
        st = job_stats([j for j in jobs if job_phase.get(j[0]) == "op." + a], a_roots) \
            if a_roots else {f: 0.0 for f in PHASE_FIELDS}
        per[f"op.{a}.s"] = median(S.get("op." + a, [])) / 1e3
        per[f"op.{a}.jobs"] = st["jobs"]
        per[f"op.{a}.task_s"] = st["task_s"]
        per[f"op.{a}.busy"] = st["busy"]
        per[f"op.{a}.shuffle_bytes"] = st["shuffle_bytes"]
        per[f"op.{a}.plan_s"] = median(S.get(f"op.{a}.plan_ms", [])) / 1e3

    detail = {
        "op_tail": {"value_ms": op_tail[0], "percentile": op_tail[1], "samples": op_tail[2]},
        "tails": {k: dict(zip(("value", "percentile", "samples"), tail(v)))
                  for k, v in (("reindex_s", reindex), ("get_ms", gets), ("list_ms", lists),
                               ("visible_s", vis)) if v},
        "samples": {k: len(v) for k, v in S.items()},
    }
    return e2e, per, detail


def load_spec(path="BENCHMARK.json"):
    with open(path) as f:
        return json.load(f)


def select(spec, values, traced):
    """The result's metric block: every end-to-end metric (trace 0) or
    every per-layer metric (trace 1), each with its unit."""
    group = spec["per_layer"] if traced else spec["end_to_end"]
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in group}


def validate_spec(spec):
    """Name and unit syntax of every declared metric; returns problems."""
    problems, seen = [], set()
    for group in ("end_to_end", "per_layer"):
        for m in spec[group]:
            if not NAME_RE.match(m["name"]):
                problems.append(f"bad name {m['name']!r}")
            if not UNIT_RE.match(m["unit"]):
                problems.append(f"bad unit {m['unit']!r} of {m['name']}")
            if m["name"] in seen:
                problems.append(f"duplicate name {m['name']}")
            seen.add(m["name"])
    return problems

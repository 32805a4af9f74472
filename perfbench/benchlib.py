"""Pure helpers of the benchmark: percentile selection, job-interval
arithmetic, answer comparison and the metric derivation from the JVM
program's raw result document. No I/O, so the self-tests cover them."""
import math
import statistics

# Spans the table workloads trace, one per public call the benchmark makes.
SPANS = [
    "streaming.upsert_cdc",
    "io.view.refresh", "io.view.read",
    "io.table.append", "io.table.delete_dv", "io.table.compact",
    "io.table.read_where",
    "text.index.refresh", "text.index.bm25", "text.index.phrase",
    "similarity.index.refresh", "similarity.index.topk",
]
SPAN_FIELDS = [("ms_p50", "ms"), ("jobs", "count"), ("tasks", "count"),
               ("driver_ms", "ms"), ("exec_cpu_ms", "ms"),
               ("shuffle_bytes", "bytes")]
GATE_FIELDS = [("ms", "ms"), ("jobs", "count"), ("exec_cpu_ms", "ms"),
               ("shuffle_bytes", "bytes")]
TAIL_GRID = [99.9, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0]


def tail_percentile(values, min_beyond=10):
    """The highest percentile of TAIL_GRID with at least `min_beyond`
    samples strictly above its nearest-rank position. Returns
    (percentile, value, samples_beyond) or None when even the median has
    fewer than `min_beyond` samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_GRID:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= min_beyond:
            return p, xs[rank - 1], n - rank
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals,
    clipped to [lo, hi] when given."""
    spans = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    spans.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_ms(call):
    """Span time during which none of the span's Spark jobs ran."""
    wall = call["end"] - call["start"]
    return wall - union_length(call["jobs"], call["start"], call["end"])


def check_answers(checks):
    """Names of the checks whose actual answer differs from the expected
    one (both are lists of rendered rows)."""
    return [c["name"] for c in checks if list(c["expected"]) != list(c["actual"])]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def span_metrics(calls, name):
    cs = [c for c in calls if c["span"] == name]
    if not cs:
        return {f: 0.0 for f, _ in SPAN_FIELDS}
    return {
        "ms_p50": statistics.median(c["end"] - c["start"] for c in cs),
        "jobs": _mean([len(c["jobs"]) for c in cs]),
        "tasks": _mean([c["tasks"] for c in cs]),
        "driver_ms": _mean([driver_ms(c) for c in cs]),
        "exec_cpu_ms": _mean([c["cpu_ns"] / 1e6 for c in cs]),
        "shuffle_bytes": _mean([c["shuffle_bytes"] for c in cs]),
    }


def tracing_overhead(setup_s, roles):
    """Traced ÷ untraced mean time of the same set-up work, minus one.
    Repetitions in the "warm_up" role are left out; a traced run orders
    the rest untraced, traced, traced, untraced (twice), so a linear
    warm-up trend cancels."""
    on = [t for t, r in zip(setup_s, roles) if r == "traced"]
    off = [t for t, r in zip(setup_s, roles) if r == "untraced"]
    return sum(on) / len(on) / (sum(off) / len(off)) - 1.0 if on and off else 0.0


def per_layer_names(gates):
    names = []
    for s in SPANS:
        names += [(f"{s}.{f}", u) for f, u in SPAN_FIELDS]
    for g in gates:
        names += [(f"gate.{g}.{f}", u) for f, u in GATE_FIELDS]
    names += [
        ("batch_gates.spill_bytes", "bytes"),
        ("io.table.jobless_write_frac", "ratio"),
        ("io.table.prune_kept_frac", "ratio"),
        ("text.index.files_probed_frac", "ratio"),
        ("similarity.index.files_probed_frac", "ratio"),
        ("refresh.incremental_frac", "ratio"),
        ("io.table.files_live", "count"),
        ("io.space_amp", "ratio"),
        ("unattributed_jobs", "count"),
        ("tracing_overhead_frac", "ratio"),
        ("op_ms_p50", "ms"),
        ("op_ms_tail", "ms"),
        ("op_tail_pct", "pct"),
        ("op_tail_samples_beyond", "count"),
        ("error_rate", "ratio"),
        ("heap_retained_mb", "MB"),
    ]
    return names


def end_to_end(raw, ops_per_block):
    """The user-visible metrics of an untraced run."""
    ms = [o["ms"] for o in raw["ops"]]
    blocks = [sum(ms[i:i + ops_per_block]) / 1000.0
              for i in range(0, len(ms) - ops_per_block + 1, ops_per_block)]
    return {
        "setup_s": (statistics.median(raw["setup_s"]), "s"),
        "wall_s": (statistics.median(blocks), "s"),
    }


def per_layer(raw, gates, failed, attempted):
    """The per-layer metrics of a traced run; layers a workload does not
    exercise read 0."""
    calls = raw.get("calls", [])
    out = {}
    for s in SPANS:
        for f, v in span_metrics(calls, s).items():
            out[f"{s}.{f}"] = v
    gate_calls = [c for c in calls if c["span"].startswith("gate.")]
    for g in gates:
        cs = [c for c in gate_calls if c["span"] == f"gate.{g}"]
        out[f"gate.{g}.ms"] = statistics.median(c["end"] - c["start"] for c in cs) if cs else 0.0
        out[f"gate.{g}.jobs"] = _mean([len(c["jobs"]) for c in cs])
        out[f"gate.{g}.exec_cpu_ms"] = _mean([c["cpu_ns"] / 1e6 for c in cs])
        out[f"gate.{g}.shuffle_bytes"] = _mean([c["shuffle_bytes"] for c in cs])
    traced_passes = len(gate_calls) / len(gates) if gate_calls and gates else 0
    out["batch_gates.spill_bytes"] = (
        sum(c["spill_bytes"] for c in gate_calls) / traced_passes
        if traced_passes else 0.0)
    writes = [c for c in calls if c["span"] in ("io.table.append", "io.table.delete_dv")]
    out["io.table.jobless_write_frac"] = _mean([1.0 if not c["jobs"] else 0.0 for c in writes])
    for k in ("io.table.prune_kept_frac", "text.index.files_probed_frac",
              "similarity.index.files_probed_frac"):
        out[k] = raw.get("file_plans", {}).get(k, 0.0)
    refreshes = raw.get("refreshes", [])
    out["refresh.incremental_frac"] = _mean([1.0 if r == "incremental" else 0.0 for r in refreshes])
    out["io.table.files_live"] = raw.get("files_live", 0)
    out["io.space_amp"] = raw.get("space_amp", 0.0)
    out["unattributed_jobs"] = len(raw.get("unattributed", []))
    out["tracing_overhead_frac"] = tracing_overhead(raw["setup_s"], raw["setup_roles"])
    ms = [o["ms"] for o in raw["ops"]]
    out["op_ms_p50"] = statistics.median(ms)
    tail = tail_percentile(ms)
    out["op_ms_tail"], out["op_tail_pct"], out["op_tail_samples_beyond"] = (
        (tail[1], tail[0], tail[2]) if tail else (0.0, 0.0, 0))
    out["error_rate"] = failed / attempted if attempted else 0.0
    out["heap_retained_mb"] = raw["heap_retained_mb"]
    units = dict(per_layer_names(gates))
    return {k: (v, units[k]) for k, v in out.items()}


def compare_frames(got, want):
    """Order-insensitive comparison of a gate's output with its oracle's
    (pandas frames): same column names, same row count, and per column
    equal values after sorting — floats within 1e-9 relative, and an
    integer column never matching a float one. Returns the differences
    found (empty when equal)."""
    import pandas as pd

    if sorted(got.columns) != sorted(want.columns):
        return [f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count differs: {len(got)} vs {len(want)}"]

    def canon(df):
        df = df[sorted(df.columns)]
        df = pd.DataFrame({c: (df[c].astype("int64")
                               if pd.api.types.is_datetime64_any_dtype(df[c]) else df[c])
                           for c in df.columns})
        return df.sort_values(by=list(df.columns), ignore_index=True)

    import numpy as np

    got, want = canon(got), canon(want)
    issues = []
    for c in got.columns:
        a, b = got[c], want[c]
        fa, fb = pd.api.types.is_float_dtype(a), pd.api.types.is_float_dtype(b)
        ia, ib = pd.api.types.is_integer_dtype(a), pd.api.types.is_integer_dtype(b)
        if (fa and ib) or (ia and fb):
            issues.append(f"{c}: integer vs float column")
            continue
        if fa or fb:
            x, y = a.to_numpy(float), b.to_numpy(float)
            tol = 1e-9 * np.maximum(1.0, np.maximum(np.abs(x), np.abs(y)))
            same = (np.abs(x - y) <= tol) | (np.isnan(x) & np.isnan(y))
        else:
            same = ((a.to_numpy(object) == b.to_numpy(object))
                    | (a.isna().to_numpy() & b.isna().to_numpy()))
        if not same.all():
            i = int(np.argmin(same))
            issues.append(f"{c}: {int((~same).sum())} rows differ, first {a.iloc[i]!r} vs {b.iloc[i]!r}")
    return issues

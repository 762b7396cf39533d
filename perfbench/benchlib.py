"""Pure logic of the benchmark: run order, statistics, span self time,
metric-name schema and the reduction of a run record to metrics.

Nothing here touches the JVM or the file system, so test_benchlib.py can
cover it directly.
"""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name):
    """Metric and workload names: a letter or digit, then letters, digits,
    `_`, `.` or `-`, at most 64 characters."""
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def murmur3_32(data, seed):
    """MurmurHash3 x86 32-bit of `data` (bytes)."""
    c1, c2, mask = 0xCC9E2D51, 0x1B873593, 0xFFFFFFFF
    h = seed & mask
    n = len(data) // 4 * 4
    for i in range(0, n, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & mask
        k = ((k << 15) | (k >> 17)) & mask
        k = (k * c2) & mask
        h ^= k
        h = ((h << 13) | (h >> 19)) & mask
        h = (h * 5 + 0xE6546B64) & mask
    tail = data[n:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & mask
        k = ((k << 15) | (k >> 17)) & mask
        k = (k * c2) & mask
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & mask
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & mask
    h ^= h >> 16
    return h


def run_order(names, seed):
    """Query order of one run: by murmur3(name, seed), ties by name."""
    return sorted(names, key=lambda n: (murmur3_32(n.encode(), seed), n))


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail_percentiles(xs, min_beyond=10, levels=(0.9, 0.99, 0.999)):
    """Nearest-rank percentiles of `xs` that have at least `min_beyond`
    samples above their rank, as {level: value}. With fewer than
    10 / (1 - 0.9) = 100 samples no tail percentile qualifies."""
    xs = sorted(xs)
    n = len(xs)
    out = {}
    for p in levels:
        rank = math.ceil(p * n)
        if rank >= 1 and n - rank >= min_beyond:
            out[p] = xs[rank - 1]
    return out


def self_times(spans):
    """{span id: self time} where self time is the span's duration less the
    part of its interval covered by its children (overlaps counted once,
    child time outside the parent ignored)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = _covered(s, children.get(s["id"], []))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def _covered(parent, kids):
    lo, hi = parent["start"], parent["end"]
    ivs = sorted((max(lo, k["start"]), min(hi, k["end"])) for k in kids)
    total, cur_s, cur_e = 0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def phase_coverage(spans):
    """Smallest share of a query span's wall time covered by its
    construct, plan and exec spans, over all traced query executions."""
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    shares = []
    for s in spans:
        if s["name"].startswith("query:"):
            dur = s["end"] - s["start"]
            phases = [k for k in by_parent.get(s["id"], [])
                      if k["name"] in ("queries.construct", "catalyst.plan", "exec")]
            shares.append(_covered(s, phases) / dur if dur > 0 else 1.0)
    return min(shares) if shares else float("nan")


def counted(record):
    """The window's passes that count: all but the repeated contended ones."""
    return [p for p in record["passes"] if not p.get("retried")]


def end_to_end(record):
    """End-to-end metrics of an untraced run record."""
    passes = counted(record)
    execs = [q["seconds"] for p in passes for q in p["queries"]]
    rchar = sum(p["io"].get("rchar", 0) for p in passes)
    wchar = sum(p["io"].get("wchar", 0) for p in passes)
    return {
        "setup_s": median(record["setup_s"]),
        "wall_s": median([p["wall_s"] for p in passes]),
        "query_p50_s": median(execs),
        "cpu_s": median([p["cpu_s"] for p in passes]),
        "write_amp": wchar / rchar if rchar else float("nan"),
    }


STAGE_SUMS = {
    "exec.tasks": "tasks",
    "exec.task_s": "task_s",
    "exec.task_cpu_s": "task_cpu_s",
    "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.read_bytes": "shuffle_read_bytes",
    "spill.memory_bytes": "spill_memory_bytes",
    "spill.disk_bytes": "spill_disk_bytes",
    "io.input_bytes": "input_bytes",
    "io.output_bytes": "output_bytes",
    "exec.task_wait_s": "task_wait_s",
    "exec.failed_tasks": "failed_tasks",
}
PLAN_SUMS = {
    "plan.exchanges": "exchanges",
    "plan.smj": "smj",
    "plan.bhj": "bhj",
    "plan.windows": "windows",
    "plan.checkpoint_scans": "checkpoint_scans",
}


def per_layer(record, spans):
    """Per-layer metrics of a traced run: sums over each traced pass,
    then the median over traced passes; plus the set-up, probe and
    tracing-overhead rows."""
    passes = counted(record)
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    threads = record["threads"]
    by_pass = {p["index"]: {} for p in traced}
    span_by_id = {s["id"]: s for s in spans}
    for s in spans:
        if not s["trace"].startswith("p"):
            continue
        idx = int(s["trace"][1:].split("-")[0])
        if idx not in by_pass:
            continue
        acc = by_pass[idx]
        a = s["attrs"]
        name = s["name"]
        dur = (s["end"] - s["start"]) / 1e9
        if name == "queries.construct":
            acc["queries.construct_s"] = acc.get("queries.construct_s", 0) + dur
        elif name == "catalyst.plan":
            acc["catalyst.plan_s"] = acc.get("catalyst.plan_s", 0) + dur
        elif name == "exec":
            for m, k in PLAN_SUMS.items():
                acc[m] = acc.get(m, 0) + a.get(k, 0)
        elif name == "spark.job":
            acc["exec.jobs"] = acc.get("exec.jobs", 0) + 1
            parent = span_by_id.get(s["parent"])
            if parent is not None and parent["name"] == "queries.construct":
                acc["queries.construct_jobs"] = acc.get("queries.construct_jobs", 0) + 1
        elif name == "spark.stage":
            acc["exec.stages"] = acc.get("exec.stages", 0) + 1
            if a.get("attempt", 0) > 0:
                acc["exec.stage_retries"] = acc.get("exec.stage_retries", 0) + 1
            for m, k in STAGE_SUMS.items():
                acc[m] = acc.get(m, 0) + a.get(k, 0)
    names = (["queries.construct_s", "queries.construct_jobs", "catalyst.plan_s",
              "exec.jobs", "exec.stages", "exec.stage_retries"]
             + list(PLAN_SUMS) + list(STAGE_SUMS))
    out = {m: median([by_pass[p["index"]].get(m, 0) for p in traced]) for m in names}
    out["exec.gc_s"] = median([p["gc_s"] for p in traced])
    out["exec.core_busy_frac"] = median(
        [by_pass[p["index"]].get("exec.task_s", 0) / (p["wall_s"] * threads) for p in traced])
    out["session.build_s"] = median(record["session_build_s"])
    out["trace.overhead_frac"] = (median([p["wall_s"] for p in traced])
                                  / median([p["wall_s"] for p in plain]) - 1)
    out.update(record["probes"])
    return out

"""Arithmetic that turns one run's raw record into the benchmark's metrics.

The JVM side (`graft.perfbench.Main`) records spans, passes, output checks
and, in a traced run, Spark's jobs, stages, task sums, executed queries and
stored blocks. Everything computed from those records lives here, so it can
be tested without Spark (`python3 -m unittest discover -s perfbench`).
"""
import math
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# Modules a job is attributed to, by the innermost `graft.*` frame on its
# call site. Classes directly in `graft` (the SparkEntry registry,
# Sessions) form the module named `SparkEntry`. `graft.ml` starts jobs
# only in model fits, which no workload runs, so it is not reported.
MODULES = ("SparkEntry", "sources", "operators", "llm", "streaming")
SUBPACKAGES = ("sources", "operators", "functions", "ml", "llm", "streaming")
SKIPPED = ("graft.perfbench.", "graft.tools.")
SPAN_KINDS = ("curate", "append", "search")
FRAME = re.compile(r"^\s*(?:at\s+)?([\w$.]+)\.([\w$<>]+)\(")


def valid_name(name):
    return bool(NAME.match(name))


def valid_unit(unit):
    return bool(UNIT.match(unit))


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals clipped to [lo, hi].

    Overlapping intervals (two jobs of `Jobs.inParallel` at once) count
    once, so the result never exceeds hi - lo.
    """
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
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


def self_ms(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_ms(children, start, end)


def frame_site(line):
    """(module, function) of one call-site frame, or None when the frame
    is not graft's, or belongs to the benchmark or `graft.tools`."""
    m = FRAME.match(line)
    if not m:
        return None
    cls, method = m.group(1), m.group(2)
    if not cls.startswith("graft.") or cls.startswith(SKIPPED):
        return None
    parts = cls.split(".")
    module = parts[1] if len(parts) > 2 and parts[1] in SUBPACKAGES else "SparkEntry"
    obj = parts[-1].split("$")[0]
    if method.startswith("$anonfun$"):
        method = method[len("$anonfun$"):]
    method = method.split("$")[0] or "<init>"
    return module, f"{obj}.{method}"


def call_site(callsite):
    """(module, function) of the innermost graft frame of a call site's
    long form (innermost frame first), or None."""
    for line in (callsite or "").splitlines():
        site = frame_site(line)
        if site:
            return site
    return None


def median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _within(t, lo, hi):
    return lo <= t <= hi


def op_spans(raw):
    return [s for s in raw["spans"] if s["kind"] != "pass"]


def pass_ops(raw, p):
    return [s for s in op_spans(raw) if s["start"] >= p["start"] and s["end"] <= p["end"]]


def pass_ms(raw, p):
    """The timed part of a pass: the sum of its operations."""
    return sum(s["end"] - s["start"] for s in pass_ops(raw, p))


def end_to_end(raw):
    plain = [p for p in raw["passes"] if not p["traced"]]
    unit = [s for p in plain for s in pass_ops(raw, p) if s["kind"] == raw["op_kind"]]
    metrics = {
        "setup_s": (median(raw["setup_s"]), "s"),
        "pass_s": (median(pass_ms(raw, p) for p in plain) / 1000.0, "s"),
        "op_p50_ms": (median(s["end"] - s["start"] for s in unit), "ms"),
        "heap_live_mb": (raw["heap_live_mb"], "MB"),
    }
    notes = {"op_samples": len(unit), "passes": len(plain)}
    return metrics, notes


def attribute_jobs(raw):
    """Each job with its (module, function): the innermost graft frame of
    its own call site, else of its SQL execution's call site, else the
    module of the benchmark span it ran in (the call the benchmark made)."""
    probe = raw["probe"]
    ops = op_spans(raw)
    out = []
    for j in probe["jobs"]:
        site = call_site(j["callsite"]) or call_site(
            probe["sql_callsites"].get(str(j["sql"])) if j["sql"] is not None else None)
        if site is None:
            inner = [s for s in ops if _within(j["start"], s["start"], s["end"])]
            span = min(inner, key=lambda s: s["end"] - s["start"]) if inner else None
            # the call's name without its pass or request number
            site = ((span["module"], f"<{span['name'].split(' ')[0]}>") if span
                    else ("bench", "<bench>"))
        out.append((j, site[0], site[1]))
    return out


def per_layer(raw):
    probe = raw["probe"]
    cores = raw["cores"]
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    jobs = attribute_jobs(raw)
    rows = []
    for p in traced:
        lo, hi = p["start"], p["end"]
        ops = pass_ops(raw, p)
        wall = sum(s["end"] - s["start"] for s in ops)
        pj = [(j, m, f) for j, m, f in jobs if _within(j["start"], lo, hi)]
        stages = [s for s in probe["stages"] if _within(s["submitted"], lo, hi)]
        execs = [e for e in probe["executions"] if _within(e["start"], lo, hi)]
        blocks = [b for b in probe["blocks"] if _within(b["time"], lo, hi)]
        intervals = [(j["start"], j["end"]) for j, _, _ in pj]
        job_ms = sum(j["end"] - j["start"] for j, _, _ in pj)

        def total(key):
            return sum(s[key] for s in stages)

        row = {
            "driver.jobs": (len(pj), "count"),
            "driver.stages": (len(stages), "count"),
            "driver.tasks": (sum(s["tasks"] for s in stages), "count"),
            "driver.actions": (len(execs), "count"),
            "driver.ms": (sum(self_ms(s["start"], s["end"], intervals) for s in ops), "ms"),
            "driver.plan_ms": (sum(e["plan_ms"] for e in execs), "ms"),
            "exec.task_run_ms": (total("run_ms"), "ms"),
            "exec.task_cpu_ms": (total("cpu_ns") / 1e6, "ms"),
            "exec.gc_ms": (total("gc_ms"), "ms"),
            "exec.busy_share": (total("run_ms") / (wall * cores) if wall else 0.0, "ratio"),
            "exec.shuffle_read_bytes": (total("shuffle_read_bytes"), "bytes"),
            "exec.shuffle_write_bytes": (total("shuffle_write_bytes"), "bytes"),
            "exec.spill_bytes": (total("spill_bytes"), "bytes"),
            "exec.serial_stage_ms": (sum(s["completed"] - s["submitted"] for s in stages
                                         if s["tasks"] == 1 and s["completed"] >= s["submitted"]),
                                     "ms"),
            "exec.input_bytes": (total("input_bytes"), "bytes"),
            "exec.output_bytes": (total("output_bytes"), "bytes"),
            "cache.blocks": (len(blocks), "count"),
            "cache.block_bytes": (sum(b["bytes"] for b in blocks), "bytes"),
            "store.files": (p["store_files"], "count"),
            "store.bytes": (p["store_bytes"], "bytes"),
            "store.bytes_per_input_byte": (p["store_bytes"] / raw["input_bytes"], "ratio"),
        }
        for m in MODULES:
            mine = [j for j, mod, _ in pj if mod == m]
            row[f"{m}.jobs"] = (len(mine), "count")
            row[f"{m}.job_share"] = (
                100.0 * sum(j["end"] - j["start"] for j in mine) / job_ms if job_ms else 0.0, "%")
        for kind in SPAN_KINDS:
            row[f"span.{kind}_share"] = (
                100.0 * sum(s["end"] - s["start"] for s in ops if s["kind"] == kind) / wall
                if wall else 0.0, "%")
        unit_ops = [s for s in ops if s["kind"] == raw["op_kind"]]
        row["span.op_self_ms"] = (median(self_ms(s["start"], s["end"], intervals)
                                         for s in unit_ops), "ms")
        rows.append(row)
    metrics = {k: (median(r[k][0] for r in rows), rows[0][k][1]) for k in rows[0]}
    metrics["trace.overhead_ms"] = (
        median(pass_ms(raw, p) for p in traced) - median(pass_ms(raw, p) for p in plain), "ms")
    metrics["setup.warm_passes"] = (len(raw["warm_ms"]), "count")
    metrics["setup.warm_ms"] = (sum(raw["warm_ms"]), "ms")
    metrics["setup.shared_ms"] = (median(raw["shared_ms"]), "ms")
    # from JVM start to the first measured call: the cold set-up, the
    # later set-ups and the warm-up passes
    metrics["setup.first_s"] = (
        (min(s["start"] for s in op_spans(raw)) - raw["jvm_start"]) / 1000.0, "s")
    return metrics


def functions(raw):
    """Job count and job milliseconds per function-level call site, over
    the traced passes."""
    out = {}
    traced = [p for p in raw["passes"] if p["traced"]]
    for j, m, f in attribute_jobs(raw):
        if any(_within(j["start"], p["start"], p["end"]) for p in traced):
            n, ms = out.get(f, (0, 0))
            out[f] = (n + 1, ms + j["end"] - j["start"])
    return out

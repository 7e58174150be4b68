"""Statistics over one run's result file.

The JVM side records raw facts (every timed operation, failed ones too;
rounds; per-layer figures; spans and Spark stages when tracing). Everything
derived from them is computed here, so it is plain code with unit tests
(`perfbench/tests/test_stats.py`).
"""
import json
import statistics

# Per-layer figures that count work rather than time it: they must repeat
# exactly from round to round and from run to run of the same seed.
DETERMINISTIC_PREFIXES = ("fs.calls.", "fs.bytes_written.", "jobs.files_mirrored.",
                          "operators.checkpoint_writes.")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes")


def summary(values):
    """Median and quartiles (as `statistics.quantiles(n=4)` cuts them) with
    the sample count."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return {"n": 0, "median": None, "q1": None, "q3": None}
    if n == 1:
        return {"n": 1, "median": xs[0], "q1": xs[0], "q3": xs[0]}
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return {"n": n, "median": statistics.median(xs), "q1": q1, "q3": q3}


def ledger(ops):
    """Failure accounting. A failed operation counts as attempted and
    failed, is listed by name, and never enters a timing."""
    failed = [op for op in ops if not op["ok"]]
    return {
        "attempted": len(ops),
        "failed": len(failed),
        "fail_ratio": len(failed) / len(ops) if ops else 0.0,
        "failures": sorted({f'{op["kind"]}:{op["name"]}' for op in failed}),
        "durations_ms": [(op["endNs"] - op["startNs"]) / 1e6 for op in ops if op["ok"]],
    }


def round_walls_s(ops, rounds):
    """Wall of each passing round: the sum of its operations' durations
    (checks and heap samples between operations are not work)."""
    by_round = {}
    for op in ops:
        by_round.setdefault(op["round"], []).append(op)
    out = []
    for r in rounds:
        members = by_round.get(r["round"], [])
        if r["ok"] and members:
            out.append(sum(op["endNs"] - op["startNs"] for op in members) / 1e9)
    return out


def union_ns(intervals, lo=None, hi=None):
    """Total length covered by `intervals` (start, end), clipped to
    [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times_ms(spans):
    """Self time per layer: each span's duration minus the part its
    children cover (children may overlap each other; the union counts)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["startNs"], s["endNs"]))
    out = {}
    for s in spans:
        covered = union_ns(children.get(s["id"], []), s["startNs"], s["endNs"])
        own = (s["endNs"] - s["startNs"] - covered) / 1e6
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


def spark_per_op(ops, spans, stages):
    """Spark figures per timed operation, attributed through the job group
    (span id and trace id) the client set around each call."""
    trace_of_span = {s["id"]: s["trace"] for s in spans}
    by_trace = {}
    for op in ops:
        t = trace_of_span.get(op["span"])
        if t is not None:
            by_trace[t] = op
    acc = {}

    def slot(op):
        key = (op["round"], op["kind"], op["name"])
        if key not in acc:
            acc[key] = {"op": op, "jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0,
                        "gc_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
                        "peak_exec_mem_mb": 0.0, "intervals": []}
        return acc[key]

    for s in spans:
        if s["layer"] == "spark.job" and s["trace"] in by_trace:
            slot(by_trace[s["trace"]])["jobs"] += 1
    for st in stages:
        trace = int(st["group"].split(":")[1])
        if trace not in by_trace:
            continue
        a = slot(by_trace[trace])
        a["stages"] += 1
        a["tasks"] += st["tasks"]
        a["task_ms"] += st["taskMs"]
        a["gc_ms"] += st["gcMs"]
        a["shuffle_bytes"] += st["shuffleBytes"]
        a["spill_bytes"] += st["spillBytes"]
        a["input_bytes"] += st["inputBytes"]
        a["peak_exec_mem_mb"] = max(a["peak_exec_mem_mb"], st["peakExecBytes"] / 1048576.0)
        a["intervals"].append((st["startNs"], st["endNs"]))
    out = []
    for a in acc.values():
        op = a.pop("op")
        ivs = a.pop("intervals")
        wall = op["endNs"] - op["startNs"]
        a["outside_stage_ms"] = (wall - union_ns(ivs, op["startNs"], op["endNs"])) / 1e6
        a.update(round=op["round"], kind=op["kind"], name=op["name"], group=op["group"])
        out.append(a)
    return out


def spark_layer(per_op, rounds):
    """Per-round medians of the Spark figures, overall and per op group."""
    out = {}
    fields = ["jobs", "stages", "tasks", "task_ms", "gc_ms", "shuffle_bytes", "spill_bytes",
              "input_bytes", "peak_exec_mem_mb", "outside_stage_ms"]
    groups = sorted({a["group"] for a in per_op})
    for f in fields:
        per_round = [sum(a[f] for a in per_op if a["round"] == r) if f != "peak_exec_mem_mb"
                     else max([a[f] for a in per_op if a["round"] == r] or [0.0])
                     for r in rounds]
        if per_round:
            out[f"spark.{f}"] = statistics.median(per_round)
        for g in groups:
            vals = [sum(a[f] for a in per_op if a["round"] == r and a["group"] == g)
                    for r in rounds]
            if vals:
                out[f"spark.{f}.{g}"] = statistics.median(vals)
    return out


def per_round_chunks(values, n_rounds):
    """Split a per-occurrence series into equal per-round chunks (None when
    it does not divide evenly)."""
    if n_rounds <= 0 or len(values) % n_rounds:
        return None
    k = len(values) // n_rounds
    return [values[i * k:(i + 1) * k] for i in range(n_rounds)]


def deterministic_counters(result, per_op):
    """The counters that must repeat exactly, round 0's values, plus the
    names of any that already differ between rounds of this run."""
    n_rounds = len(result["rounds"])
    counters, flags = {}, []
    for name, values in sorted(result["layer"].items()):
        if not name.startswith(DETERMINISTIC_PREFIXES):
            continue
        chunks = per_round_chunks(values, n_rounds)
        if chunks is None:
            flags.append(name)
            continue
        counters[name] = chunks[0]
        if any(c != chunks[0] for c in chunks[1:]):
            flags.append(name)
    by_name = {}
    for a in per_op:
        for f in SPARK_COUNTERS:
            by_name.setdefault(f'spark.{f}.{a["kind"]}:{a["name"]}', {})[a["round"]] = a[f]
    for name, per_round in sorted(by_name.items()):
        vals = [per_round[r] for r in sorted(per_round)]
        counters[name] = vals[:1]
        if any(v != vals[0] for v in vals[1:]):
            flags.append(name)
    return counters, flags


def compare_counters(previous, current):
    """Names of counters both runs have whose values differ."""
    return sorted(k for k in current if k in previous and previous[k] != current[k])


def end_to_end(result):
    """The end-to-end figures of one untraced run: (ledger, name -> (unit,
    samples)). A median is reported with its sample count; no tail
    percentile, since no run holds the ten samples beyond it that one
    would need."""
    led = ledger(result["ops"])
    d = led["durations_ms"]
    return led, {
        "setup_s": ("s", [result["setup_s"]]),
        "round_s": ("s", round_walls_s(result["ops"], result["rounds"])),
        "op_p50_ms": ("ms", d),
        "live_heap_mb": ("MB", [max(result["heap_mb"])] if result["heap_mb"] else []),
    }


def workload_figures(result):
    """The named figures of each workload (the headline numbers of its
    phases), as metric name -> (unit, samples)."""
    ops = [op for op in result["ops"] if op["ok"]]

    def walls(pred, scale):
        return [(op["endNs"] - op["startNs"]) / scale for op in ops if pred(op)]

    w = result["workload"]
    if w == "lake_sync":
        return {
            "sync_full_s": ("s", walls(lambda o: o["name"] == "full", 1e9)),
            "sync_incr_s": ("s", walls(lambda o: o["name"] == "incr", 1e9)),
            "sync_noop_s": ("s", walls(lambda o: o["name"] == "noop", 1e9)),
            "lake_insights_s": ("s", walls(lambda o: o["kind"] == "insights", 1e9)),
        }
    if w == "curation_board":
        def group_sums(g):
            per = {}
            for op in ops:
                if op["group"] == g:
                    per[op["round"]] = per.get(op["round"], 0.0) + (op["endNs"] - op["startNs"]) / 1e9
            return list(per.values())
        return {
            "curate_pass_s": ("s", round_walls_s(result["ops"], result["rounds"])),
            "curate_pairs_s": ("s", group_sums("pairs")),
            "curate_text_s": ("s", group_sums("text")),
            "curate_local_s": ("s", group_sums("local")),
        }
    if w == "ingest_stream":
        docs = result.get("docs_per_round", 0)
        return {
            "ingest_docs_per_s": ("docs/s", [docs / s for s in round_walls_s(result["ops"], result["rounds"]) if s > 0]),
            "ingest_batch_p50_s": ("s", walls(lambda o: o["kind"] == "batch", 1e9)),
        }
    return {}


def per_layer(result, untraced_round_s=None):
    """Every per-layer figure of a traced run, by metric name."""
    out = {}
    for name, values in result["layer"].items():
        if values:
            out[name] = statistics.median(values)
    spans = result.get("spans", [])
    ops = result["ops"]
    timed = {s["trace"] for s in spans if s["id"] in {op["span"] for op in ops}}
    per_op = spark_per_op(ops, spans, result.get("stages", []))
    rounds = [r["round"] for r in result["rounds"]]
    out.update(spark_layer(per_op, rounds))
    n_rounds = max(1, len(rounds))
    for layer, ms in self_times_ms([s for s in spans if s["trace"] in timed]).items():
        out[f"self_ms.{layer}"] = ms / n_rounds
    if result["rounds"]:
        out["jvm.gc_ms"] = statistics.median(r["gcMs"] for r in result["rounds"])
        out["jvm.gc_count"] = statistics.median(r["gcCount"] for r in result["rounds"])
    walls = round_walls_s(ops, result["rounds"])
    if untraced_round_s and walls:
        out["trace.overhead_pct"] = (statistics.median(walls) / untraced_round_s - 1) * 100
    out["trace.spans"] = len(spans) / n_rounds
    return out, per_op


def metric_line(name, unit, values):
    """One parseable figure line: name, unit, sample count, median, quartiles."""
    return json.dumps({"metric": name, "unit": unit, **summary(values)})

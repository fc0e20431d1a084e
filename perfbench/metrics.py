"""Metrics of one benchmark run, from the raw record the JVM writes.

End-to-end metrics (untraced run) and per-layer metrics (traced run) are
listed in END_TO_END and PER_LAYER with their units; BENCHMARK.json names
the same metrics. Per-layer figures use only the traced cycles of a traced
run, except the latencies, which use its untraced cycles.
"""
import bisect
import statistics

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("heap_live_mb", "MB")]
LAKE_CALLS = ["write", "merge", "mergeInto", "delete", "updateWhere", "compact",
              "read_build", "changes"]
FS_KINDS = ["exists", "getFileStatus", "listStatus", "open", "create", "rename",
            "delete", "mkdirs"]
SPARK = [("jobs_per_op", "count"), ("stages_per_op", "count"),
         ("tasks_per_op", "count"), ("shuffle_read_bytes", "B"),
         ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
         ("executor_run_ms", "ms"), ("executor_cpu_ms", "ms"),
         ("scheduler_delay_ms", "ms"), ("driver_gap_ms", "ms"),
         ("input_bytes", "B"), ("rows_read_per_row_returned", "ratio")]
SURFACES = ["sql", "filter", "pruned"]
PER_LAYER = (
    [(f"lake.{c}_ms", "ms") for c in LAKE_CALLS]
    + [("sql.analyze_ms", "ms"), ("sql.plan_ms", "ms"), ("sql.exec_ms", "ms"),
       ("queries.build_ms", "ms"), ("queries.execute_ms", "ms")]
    + [(f"fs.driver.{k}.per_commit", "count") for k in FS_KINDS]
    + [(f"fs.driver.{k}.per_read", "count") for k in FS_KINDS]
    + [("lake.write_amp", "ratio"), ("lake.files_live", "count"),
       ("lake.versions", "count"), ("lake.files_opened_per_read", "count"),
       ("lake.files_skipped_ratio", "ratio")]
    + [(f"lake.files_opened_per_read.{s}", "count") for s in SURFACES]
    + [(f"spark.{n}", u) for n, u in SPARK]
    + [("jvm.gc_ms", "ms"), ("jvm.session_s", "s"), ("trace.overhead_ratio", "ratio"),
       ("op_p50_ms", "ms"), ("op_p90_ms", "ms"), ("write_p50_ms", "ms"),
       ("write_p90_ms", "ms"),
       ("read_p50_ms", "ms"), ("read_p90_ms", "ms"), ("space_amp", "ratio")]
)

OP_FIELDS = ["i", "cycle", "kind", "cls", "surface", "ms", "traced", "user_rows",
             "bytes_written", "gc_ms", "rows", "t0", "t1"]


def pct(xs, q):
    """Linear-interpolated percentile q (0..100); 0 for no samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def covered(t0, t1, intervals):
    """Length of [t0, t1] covered by the union of intervals."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


def _latencies(ops, report):
    ms = [o["ms"] for o in ops]
    reads = [o["ms"] for o in ops if o["cls"] == "read"]
    writes = [o["ms"] for o in ops if o["cls"] == "write"]
    report.append(f"samples: {len(ms)} ops, {len(reads)} reads, {len(writes)} writes "
                  f"(p90 has {len(ms) - int(0.9 * len(ms))} op samples beyond it)")
    return ms, reads, writes


def end_to_end(rec, ops, report):
    ms, reads, writes = _latencies(ops, report)
    extra = rec["extra"]
    m = {
        "setup_s": statistics.median(rec["setup_s"]),
        "ops_per_s": 1000.0 * len(ms) / sum(ms),
        "heap_live_mb": rec["heap_live_mb"],
    }
    report.append(f"setup_s samples: {[round(x, 3) for x in rec['setup_s']]}; "
                  f"session start {rec['session_s']:.2f} s; "
                  f"{extra.get('cycles')} cycles in {extra.get('timed_s', 0):.1f} s")
    report.append(f"op_p50_ms {pct(ms, 50):.1f}  op_p90_ms {pct(ms, 90):.1f}  "
                  f"read_p50_ms {pct(reads, 50):.1f}  "
                  f"write_p50_ms {pct(writes, 50):.1f}  "
                  f"write_p90_ms {pct(writes, 90):.1f}  read_p90_ms {pct(reads, 90):.1f}  "
                  f"space_amp {extra.get('space_amp', 0):.3f}")
    report.append("per op kind: n, p50 ms")
    for kind, surface in sorted({(o["kind"], o["surface"]) for o in ops}):
        sel = [o["ms"] for o in ops if o["kind"] == kind and o["surface"] == surface]
        report.append(f"  {kind + ('/' + surface if surface else ''):28s} n={len(sel):3d} "
                      f"p50={pct(sel, 50):8.1f}")
    return m


def per_layer(rec, ops, report):
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops if not o["traced"]]
    by_i = {o["i"]: o for o in traced}
    extra = rec["extra"]
    t0s = [o["t0"] for o in traced]

    def op_at(t):
        k = bisect.bisect_right(t0s, t + 2.0) - 1
        if k >= 0 and traced[k]["t0"] - 2.0 <= t <= traced[k]["t1"] + 2.0:
            return traced[k]["i"]
        return None

    jobs_of = {o["i"]: [] for o in traced}
    for _jid, j0, j1, jm in rec["jobs"]:
        i = op_at(j0)
        if i is not None:
            jobs_of[i].append((j0, j1, jm))
    spans_of = {}
    for _sid, _parent, op, layer, name, s0, s1 in rec["spans"]:
        if op in by_i:
            spans_of.setdefault(f"{layer}.{name}", []).append((op, s0, s1))
    fs = {}
    for op, side, kind, n in rec["fs"]:
        if op in by_i:
            fs[(op, side, kind)] = fs.get((op, side, kind), 0) + n
    opens = {op: n for op, n in rec["data_file_opens"] if op in by_i}

    m = {}
    for c in LAKE_CALLS:
        m[f"lake.{c}_ms"] = pct([b - a for _, a, b in spans_of.get(f"lake.{c}", [])], 50)
    for s in ("sql.analyze", "sql.plan", "sql.exec", "queries.build", "queries.execute"):
        m[f"{s}_ms"] = pct([b - a for _, a, b in spans_of.get(s, [])], 50)
    for cls, suffix in (("write", "per_commit"), ("read", "per_read")):
        sel = [o["i"] for o in traced if o["cls"] == cls]
        for k in FS_KINDS:
            m[f"fs.driver.{k}.{suffix}"] = (
                sum(fs.get((i, "driver", k), 0) for i in sel) / len(sel) if sel else 0.0)
    commits = [o for o in traced if o["cls"] == "write"]
    user_bytes = sum(o["user_rows"] for o in commits) * extra.get("plain_bytes_per_row", 0)
    m["lake.write_amp"] = sum(o["bytes_written"] for o in commits) / user_bytes \
        if user_bytes else 0.0
    m["lake.files_live"] = float(extra.get("files_live", 0))
    m["lake.versions"] = float(extra.get("versions", 0))
    reads = [o for o in traced if o["cls"] == "read"]
    m["lake.files_opened_per_read"] = mean([opens.get(o["i"], 0) for o in reads])
    live = extra.get("files_live", 0)
    m["lake.files_skipped_ratio"] = max(0.0, 1 - m["lake.files_opened_per_read"] / live) \
        if live else 0.0
    for s in SURFACES:
        m[f"lake.files_opened_per_read.{s}"] = mean(
            [opens.get(o["i"], 0) for o in reads if o["surface"] == s])

    def per_op(key):
        return mean([sum(jm.get(key, 0.0) for *_, jm in jobs_of[o["i"]]) for o in traced])
    m["spark.jobs_per_op"] = mean([len(jobs_of[o["i"]]) for o in traced])
    m["spark.stages_per_op"] = per_op("stages")
    m["spark.tasks_per_op"] = per_op("tasks")
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "executor_run_ms", "executor_cpu_ms", "scheduler_delay_ms", "input_bytes"):
        m[f"spark.{k}"] = per_op(k)
    m["spark.driver_gap_ms"] = mean([
        (o["t1"] - o["t0"]) - covered(o["t0"], o["t1"], [(a, b) for a, b, _ in jobs_of[o["i"]]])
        for o in traced])
    returned = sum(o["rows"] for o in traced)
    m["spark.rows_read_per_row_returned"] = per_op("input_records") * len(traced) / returned \
        if returned else 0.0
    m["jvm.gc_ms"] = mean([o["gc_ms"] for o in traced])
    m["jvm.session_s"] = rec["session_s"]
    m["trace.overhead_ratio"] = pct([o["ms"] for o in traced], 50) / \
        pct([o["ms"] for o in plain], 50)
    pms, preads, pwrites = _latencies(plain, report)
    m["op_p50_ms"] = pct(pms, 50)
    m["op_p90_ms"] = pct(pms, 90)
    m["write_p50_ms"] = pct(pwrites, 50)
    m["write_p90_ms"] = pct(pwrites, 90)
    m["read_p50_ms"] = pct(preads, 50)
    m["read_p90_ms"] = pct(preads, 90)
    m["space_amp"] = float(extra.get("space_amp", 0.0))

    # per op kind: where the time went (self time = span minus its children)
    report.append("per op kind (traced cycles): n, p50 ms, jobs/op, driver fs calls/op, "
                  "data files opened/op, self ms/op by layer")
    kinds = sorted({(o["kind"], o["surface"]) for o in traced})
    children = {}
    for _sid, parent, op, layer, name, s0, s1 in rec["spans"]:
        children.setdefault(parent, []).append((s0, s1))
    span_rows = [s for s in rec["spans"] if s[2] in by_i]
    for kind, surface in kinds:
        sel = [o for o in traced if o["kind"] == kind and o["surface"] == surface]
        ids = {o["i"] for o in sel}
        self_ms = {}
        for sid, _parent, op, layer, name, s0, s1 in span_rows:
            if op not in ids:
                continue
            kids = children.get(sid, []) + [(a, b) for a, b, _ in jobs_of[op]
                                            if s0 <= a <= s1]
            key = "op" if layer == "op" else f"{layer}.{name}"
            self_ms[key] = self_ms.get(key, 0.0) + (s1 - s0) - covered(s0, s1, kids)
        dfs = mean([sum(n for (i, side, _), n in fs.items() if i == o["i"] and side == "driver")
                    for o in sel])
        layers = "  ".join(f"{k}={v / len(sel):.1f}" for k, v in sorted(self_ms.items()))
        report.append(
            f"  {kind + ('/' + surface if surface else ''):28s} n={len(sel):3d} "
            f"p50={pct([o['ms'] for o in sel], 50):8.1f} "
            f"jobs={mean([len(jobs_of[o['i']]) for o in sel]):5.1f} fs={dfs:6.1f} "
            f"opened={mean([opens.get(o['i'], 0) for o in sel]):5.1f}  {layers}")
    return m


def summarise(rec, failures, traced):
    ops = [dict(zip(OP_FIELDS, o)) for o in rec["ops"]]
    report = [f"workload {rec['workload']} ({'traced' if traced else 'untraced'})",
              "figures: " + ", ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}"
                                      for k, v in rec["extra"].items())]
    report.append("phases end at (s from JVM start, s of GC by then): " + ", ".join(
        f"{k} {t:.1f} ({gc:.1f})" for k, (t, gc) in rec["phases"].items()))
    m = per_layer(rec, ops, report) if traced else end_to_end(rec, ops, report)
    units = dict(PER_LAYER if traced else END_TO_END)
    attempted = len(ops)
    failed = min(len(failures), attempted)
    report.append(f"failed_ratio {failed / attempted:.4f} ({failed} of {attempted})")
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m[k], "unit": units[k]} for k, _ in
                    (PER_LAYER if traced else END_TO_END)},
        "report": report,
    }

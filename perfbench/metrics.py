"""Turns the harness's raw measurements into the benchmark's metrics.

Pure functions over the result JSON the JVM side writes (see
src/main/scala/perfbench/Main.scala); `selftest.py` exercises them.
"""
import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile
# commit-log ops whose whole wall time is commit-log layer time
WRITES = ("append", "redeliver", "merge", "delete_dv", "checkpoint")


def percentile(samples, q):
    """The q-th percentile (0 < q < 100) by the nearest-rank rule, or None
    when fewer than MIN_BEYOND samples lie beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, -(-q * n // 100))  # ceil(q * n / 100)
    if n - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def tail(samples):
    """The highest of p99, p95, p90 and p75 that has MIN_BEYOND samples
    beyond it, as {"pct", "value", "samples"}; None when none has."""
    for q in (99, 95, 90, 75):
        v = percentile(samples, q)
        if v is not None:
            return {"pct": q, "value": v, "samples": len(samples)}
    return None


def median(xs):
    return statistics.median(xs) if xs else None


def accounting(result, check_failures):
    """(attempted, failed): every timed op and every output check is an
    attempt; an op that threw, a check that could not run and an output
    that disagrees with its oracle each count as one failure."""
    ops = result.get("ops", [])
    checks = result.get("checks", [])
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o["ok"])
    failed += sum(1 for c in checks if not c["ok"])
    failed += len(check_failures)
    return attempted, failed


def _untraced(result):
    passes = [p for p in result["passes"] if not p["traced"]]
    keep = {p["pass"] for p in passes}
    return passes, [o for o in result["ops"] if o["pass"] in keep]


def latencies(result):
    """Wall times of the ops of untraced passes that succeeded, in ms."""
    return [o["wall_ms"] for o in _untraced(result)[1] if o["ok"]]


def end_to_end(result, gen_s):
    """Metrics a user sees; from untraced passes only."""
    passes, _ = _untraced(result)
    return {
        "setup_s": (gen_s + result["setup_jvm_s"], "s"),
        "pass_s": (median([p["wall_ms"] for p in passes]) / 1000.0, "s"),
        "op_p50_ms": (median(latencies(result)), "ms"),
        "heap_retained_mb": (result["heap_retained_mb"], "MiB"),
    }


def _busy_ms(intervals, lo, hi):
    """Length of the union of [start, end] task intervals inside [lo, hi]."""
    spans = sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi)
    busy, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def _c(op, key):
    return op.get("counters", {}).get(key, 0)


def _phase_sum(ops, key, phases=("build", "exec", "commit", "other")):
    return sum(_c(o, f"{ph}.{key}") for o in ops for ph in phases)


def per_layer(result):
    """Per-layer metrics from the traced passes (see METRICS.md)."""
    traced = [p for p in result["passes"] if p["traced"]]
    plain = [p for p in result["passes"] if not p["traced"]]
    keep = {p["pass"] for p in traced}
    ops = [o for o in result["ops"] if o["pass"] in keep]
    good = [o for o in ops if o["ok"]]
    n = max(1, len(good))
    cores = result["cores"]
    resolve = result.get("resolve_ms", {})

    wall = tables = build = plan = execs = commit = 0.0
    rel_calls = 0
    analysis = optimizer = physical = 0.0
    sql_build = persisted = 0
    for o in good:
        if o["name"] in WRITES:
            wall += o["wall_ms"]
            commit += o["wall_ms"]
            continue
        qes = o.get("qes", [])
        rels = {(t, i) for q in qes for t, i in q["relations"]}
        t_ms = sum(resolve.get(t, 0.0) for t, _ in rels)
        plan_all = sum(q["analysis_ms"] + q["optimizer_ms"] + q["physical_ms"] for q in qes)
        last = qes[-1] if qes and o["exec_ms"] > 0 else None
        plan_exec = (last["analysis_ms"] + last["optimizer_ms"] + last["physical_ms"]) if last else 0
        wall += o["wall_ms"]
        tables += t_ms
        rel_calls += len(rels)
        build += max(0.0, o["build_ms"] - t_ms - (plan_all - plan_exec))
        plan += plan_all
        execs += max(0.0, o["exec_ms"] - plan_exec)
        analysis += sum(q["analysis_ms"] for q in qes)
        optimizer += sum(q["optimizer_ms"] for q in qes)
        physical += sum(q["physical_ms"] for q in qes)
        sql_build += max(0, len(qes) - (1 if last else 0))
        persisted += o.get("persisted", 0)
    wall = max(wall, 1e-9)

    task_ms_all = 0.0
    idle = []
    for p in traced:
        ivs = [tuple(t) for o in ops if o["pass"] == p["pass"] for t in o.get("tasks", [])]
        task_ms_all += sum(e - s for s, e in ivs)
        span = max(1, p["end_ms"] - p["start_ms"])
        idle.append((span - _busy_ms(ivs, p["start_ms"], p["end_ms"])) / 1000.0)
    traced_wall = sum(p["wall_ms"] for p in traced)

    def ex(key):
        return sum(_c(o, f"exec.{key}") for o in good)

    by_kind = {}
    for o in ops:
        if o["ok"]:
            by_kind.setdefault(o["name"], []).append(o)

    def kind_ms(kind):
        return median([o["wall_ms"] for o in by_kind.get(kind, [])]) or 0.0

    reads = [o for o in good if "latest_ms" in o]
    writes = [o for o in good if o["name"] in WRITES]
    commits = [o for o in writes if o["name"] in ("append", "merge", "delete_dv")]
    where = [o for o in reads if "files_scanned" in o]
    redeliveries = [o for o in ops if o["name"] == "redeliver"]
    lake = result.get("lake", {})

    m = {
        "tables.relations_per_op": (rel_calls / n, "count"),
        "tables.resolve_ms_per_call": (median(list(resolve.values())) or 0.0, "ms"),
        "tables.resolve_share": (tables / wall, "frac"),
        "build.ms_per_op": (build / n, "ms"),
        "build.share": (build / wall, "frac"),
        "build.jobs_per_op": (sum(_c(o, "build.jobs") for o in good) / n, "count"),
        "build.sql_execs_per_op": (sql_build / n, "count"),
        "build.checkpoints_per_op": (persisted / n, "count"),
        "plan.analysis_ms_per_op": (analysis / n, "ms"),
        "plan.optimizer_ms_per_op": (optimizer / n, "ms"),
        "plan.physical_ms_per_op": (physical / n, "ms"),
        "plan.share": (plan / wall, "frac"),
        "exec.ms_per_op": (execs / n, "ms"),
        "exec.share": (execs / wall, "frac"),
        "exec.jobs_per_op": (ex("jobs") / n, "count"),
        "exec.stages_per_op": (ex("stages") / n, "count"),
        "exec.tasks_per_op": (ex("tasks") / n, "count"),
        "exec.task_s": (ex("task_ms") / 1000.0 / n, "s"),
        "exec.cpu_s": (ex("cpu_ns") / 1e9 / n, "s"),
        "exec.gc_s": (ex("gc_ms") / 1000.0 / n, "s"),
        "exec.core_busy": (task_ms_all / max(1e-9, traced_wall * cores), "frac"),
        "exec.shuffle_write_mb": (ex("shuffle_write_b") / 1048576.0 / n, "MiB"),
        "exec.shuffle_read_mb": (ex("shuffle_read_b") / 1048576.0 / n, "MiB"),
        "exec.spill_mb": (ex("spill_b") / 1048576.0 / n, "MiB"),
        "exec.input_rows": (ex("input_rows") / n, "count"),
        "exec.failed_tasks": (_phase_sum(ops, "failed_tasks"), "count"),
        "driver.idle_s": (median(idle) or 0.0, "s"),
        "driver.jobs_per_op": (_phase_sum(good, "jobs") / n, "count"),
        "commitlog.append_ms": (kind_ms("append"), "ms"),
        "commitlog.merge_ms": (kind_ms("merge"), "ms"),
        "commitlog.delete_dv_ms": (kind_ms("delete_dv"), "ms"),
        "commitlog.checkpoint_ms": (kind_ms("checkpoint"), "ms"),
        "commitlog.commit_p50_ms": (median([o["wall_ms"] for o in writes]) or 0.0, "ms"),
        "commitlog.read_p50_ms": (median([o["wall_ms"] for o in reads]) or 0.0, "ms"),
        "commitlog.latest_ms": (median([o["latest_ms"] for o in reads]) or 0.0, "ms"),
        "commitlog.snapshot_ms": (median([o["snapshot_ms"] for o in reads]) or 0.0, "ms"),
        "commitlog.scan_ms": (median([o["exec_ms"] for o in reads]) or 0.0, "ms"),
        "commitlog.log_files_replayed": (median([o["log_files_replayed"] for o in reads]) or 0, "count"),
        "commitlog.files_live": (median([o["files_live"] for o in reads]) or 0, "count"),
        "commitlog.skip_ratio": (
            sum(o["files_scanned"] for o in where) / max(1, sum(o["files_live"] for o in where)), "frac"),
        "commitlog.jobs_per_commit": (
            sum(_c(o, "commit.jobs") for o in writes) / max(1, len(commits)), "count"),
        "commitlog.log_bytes": (lake.get("log_bytes", 0), "B"),
        "commitlog.data_bytes": (lake.get("data_bytes", 0), "B"),
        "commitlog.bytes_per_user_byte": (
            (lake.get("log_bytes", 0) + lake.get("data_bytes", 0)) / max(1, lake.get("user_bytes", 0)), "ratio"),
        "commitlog.redelivery_skips": (
            sum(1 for o in redeliveries if o["ok"]) / max(1, len(redeliveries)), "frac"),
        "commitlog.share": (commit / wall, "frac"),
        "trace.covered_frac": ((tables + build + plan + execs + commit) / wall, "frac"),
        "trace.overhead_frac": (
            median([p["wall_ms"] for p in traced]) / median([p["wall_ms"] for p in plain]) - 1.0
            if traced and plain else 0.0, "frac"),
    }
    return m

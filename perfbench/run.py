#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one measuring window.

    python3 perfbench/run.py --workload <qcew_pipeline|registry_mix>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the library and harness if needed (``build.py``), generates the
seeded inputs, runs the closed-loop harness in one JVM, checks every
operation's output against an independent reference, prints the
workload's named metrics one per line and, as the last line of stdout,
the JSON result. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones. See README.md.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen_qcew  # noqa: E402

ROOT = build.ROOT
QCEW_RECORDS = 6_000      # raw tree: ~6.4 MB of 1060-char records
WARM_RECORDS = 400        # warm-up tree: 8 small quarters
WARM_PARTITIONS = 8
SETUP_REPS = 3
# untimed operations before the window opens (at least one pass of the mix);
# on qcew_pipeline two passes, as the JIT is still speeding up the first
# ones by a fifth
WARM_SECONDS = {"qcew_pipeline": 16, "registry_mix": 6}
REGISTRY_SCALE = 0.002    # registry tables: 12,000 lineitem rows
JVM_TIMEOUT_S = 150
HEAP = "3g"
# Fixed young generation, sized so each workload collects about three
# times a second. heap_peak_mb samples old-generation use (promoted
# objects plus humongous buffers live at that moment) after each
# collection; with G1's adaptive sizing eden grows to ~2.5 GB, a run sees
# only ~10 collections, and whether one lands while the large buffers are
# live decides the peak. A smaller young generation on qcew_pipeline
# promotes objects that live across a pass and makes the old generation
# creep instead.
YOUNG = {"qcew_pipeline": "256m", "registry_mix": "128m"}
WORKLOADS = tuple(WARM_SECONDS)
# serving calls of a pipeline pass, by span name; agg_full is the pass's
# own NAICS4 aggregate
SERVE_SPANS = {"agg_full": "naicsagg", "agg_quarter": "agg_quarter",
               "resample": "resample", "series_diff": "series_diff", "wages": "wages"}
# Registry sample: the first query registered in each shard (the harness
# resolves the shard to its query), so every seed runs the same mix; the
# seed draws their order and the data they read.
SHARDS = ("core", "lake", "stream", "text", "sim", "graph", "stats", "ts")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---- inputs and the seeded request sequence ----------------------------

def qcew_inputs(seed, work):
    layout = os.path.join(ROOT, "src", "main", "scala", "graft", "qcew", "Layout.scala")
    exp = gen_qcew.generate(seed, os.path.join(work, "qcew"), layout, QCEW_RECORDS)
    warm = gen_qcew.generate(seed + 7919, os.path.join(work, "warm"), layout,
                             WARM_RECORDS, WARM_PARTITIONS)
    return exp, warm["raw_glob"]


def pipeline_requests(seed, exp, n_passes=100):
    """One line per pipeline pass: the serving calls' seeded parameters.
    The wage frame alternates, so that every seed serves the same share
    of quarterly and yearly wage series."""
    rng = random.Random(seed * 31 + 1)
    parts = gen_qcew.partitions()
    # industries with at least one published (unsuppressed) quarter
    busy = sorted({k[2] for k, v in exp["agg"].items()
                   if v["dummy"] > gen_qcew.SUPPRESS_AT_MOST})
    wages = exp["wages"]
    labelled = sorted(set(wages["desc"]) - set(wages["invalid"]))
    reqs = []
    for i in range(n_passes):
        y, q = rng.choice(parts)
        c = rng.choice(labelled)
        reqs.append(["pass", str(y), str(q), rng.choice(busy), rng.choice(busy),
                     ("quarterly", "yearly")[i % 2], f"(N{c}) {wages['desc'][c]}", c])
    return reqs


def registry_requests(seed, n_passes=40):
    rng = random.Random(seed * 31 + 2)
    reqs = []
    for _ in range(n_passes):
        p = list(SHARDS)
        rng.shuffle(p)
        reqs += [[q] for q in p]
    return reqs


# ---- the JVM -----------------------------------------------------------

def run_harness(classpath, work, conf, reqs):
    cfg = os.path.join(work, "config.tsv")
    with open(cfg, "w", encoding="utf-8") as f:
        for k, v in conf.items():
            f.write(f"{k}\t{v}\n")
        for r in reqs:
            f.write("\t".join(["req"] + r) + "\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG[conf['workload']]}",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Harness", cfg])
    log = os.path.join(work, "jvm.log")
    with open(log, "wb") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"harness exceeded {JVM_TIMEOUT_S} s")
    if code != 0:
        with open(log, errors="replace") as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError(f"harness exited {code}:\n{tail}")
    out = os.path.join(work, "out")

    def jsonl(name):
        with open(os.path.join(out, name)) as f:
            return [json.loads(line) for line in f if line.strip()]
    with open(os.path.join(out, "setup.json")) as f:
        setup = json.load(f)
    return jsonl("ops.jsonl"), setup, jsonl("spans.jsonl"), jsonl("stages.jsonl"), out


# ---- checks ------------------------------------------------------------

def check_pipeline_ops(ops, out, exp):
    """Every table of every pass against the generator's expectations."""
    verdict = {}
    for op in ops:
        if not op["ok"]:
            continue
        req = op["req"]
        key = (op["out"], op["nulls"], tuple(req))
        if key not in verdict:
            with open(os.path.join(out, f"{op['out']}.json")) as f:
                t = json.load(f)
            with open(os.path.join(out, f"{op['nulls']}.json")) as f:
                nulls = json.load(f)["nulls"]
            verdict[key] = (
                check.check_agg(t["agg"], exp["agg"])
                + check.check_nulls(nulls, exp["nulls"], exp["records"])
                + check.check_agg(t["agg_quarter"], exp["agg"], part=(int(req[1]), int(req[2])))
                + check.check_resample(t, exp["emp"], req[3])
                + check.check_series(t["series"], exp["agg"], req[4])
                + check.check_wages({"series": t["wage_series"], "picklist": t["picklist"]},
                                    exp["wages"], req[5], req[7]))
        op["problems"] = verdict[key]


def check_registry_ops(ops, out, data_dir):
    """Every query result against its DuckDB oracle, computed here,
    after the harness has exited."""
    import duckdb
    with open(os.path.join(out, "oracle.json")) as f:
        oracle_sql = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in os.listdir(data_dir):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, t)}')")
    oracle = {}
    for op in ops:
        if not op["ok"]:
            continue
        name = op["query"]
        try:
            if name not in oracle:
                oracle[name] = check.load_sorted(con, oracle_sql[name])
            got = check.load_sorted(
                con, f"SELECT * FROM read_parquet('{op['result_dir']}/*.parquet')")
            op["problems"] = check.compare_result(got, oracle[name])
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails
            op["problems"] = [f"check error: {e}"[:300]]
        shutil.rmtree(op["result_dir"], ignore_errors=True)


# ---- metrics -----------------------------------------------------------

def op_type(op):
    return op["req"][0]


def _med(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def by_type(ops):
    groups = {}
    for op in ops:
        groups.setdefault(op_type(op), []).append(op["ms"])
    return groups


def type_weighted_median(groups):
    """Median latency over {type: [ms]} with every type weighted equally,
    so a partly finished pass of the mix does not shift it: each sample
    weighs 1 / (samples of its type)."""
    pts = sorted((ms, 1 / len(v)) for v in groups.values() for ms in v)
    half, acc = len(groups) / 2, 0.0
    for ms, w in pts:
        acc += w
        if acc >= half - 1e-9:
            return ms
    return pts[-1][0]


def span_ms(spans, ops, name):
    ids = {op["i"] for op in ops}
    return [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans
            if s["name"] == name and s["op"] in ids]


def end_to_end(workload, ops, setup, spans, exp):
    """The bounded metrics, defined on both workloads, and the named
    metrics that are printed only (and reported again, unbounded, with
    the per-layer metrics)."""
    good = [op for op in ops if op["ok"] and not op["problems"]]
    groups = by_type(good)
    if workload == "qcew_pipeline":
        serve = {t: span_ms(spans, good, name) for t, name in SERVE_SPANS.items()}
        serve_all = [ms for v in serve.values() for ms in v]
    else:
        serve, serve_all = groups, [op["ms"] for op in good]
    m = {
        "setup_s": (statistics.median(setup["setup_s"]), "s"),
        "pass_s": (sum(statistics.median(v) for v in groups.values()) / 1000, "s"),
        "serve_gmean_ms": (statistics.geometric_mean(
            statistics.median(v) for v in serve.values()), "ms"),
        "heap_peak_mb": (setup["heap_peak_mb"], "MB"),
    }
    named = {"failed_share": ((len(ops) - len(good)) / len(ops), "share"),
             "samples": (len(good), "count"),
             "serve.p50_ms": (type_weighted_median(serve), "ms"),
             "serve.p90_ms": (statistics.quantiles(serve_all, n=10)[8]
                              if len(serve_all) > 1 else serve_all[0], "ms"),
             "serve.requests_per_s": (1000 / statistics.mean(serve_all), "1/s")}
    if workload == "qcew_pipeline":
        etl_ms = [a + b for a, b in zip(span_ms(spans, good, "ingest"),
                                        span_ms(spans, good, "naicsagg"))]
        named["etl.raw_mb_per_s"] = (exp["raw_bytes"] / 1e6 / (statistics.median(etl_ms) / 1000),
                                     "MB/s")
        named["etl.lake_bytes_per_raw_byte"] = (
            statistics.median(op["lake_bytes"] for op in good) / exp["raw_bytes"], "ratio")
    return m, named


PER_LAYER_UNITS = {
    "etl.raw_mb_per_s": "MB/s", "etl.lake_bytes_per_raw_byte": "ratio",
    "serve.p50_ms": "ms", "serve.p90_ms": "ms", "serve.requests_per_s": "1/s",
    "fixedwidth.decode_s": "s", "fixedwidth.decode_mb_per_core_s": "MB/s",
    "fixedwidth.records": "count",
    "ingest.write_s": "s", "ingest.shuffle_write_bytes": "bytes",
    "ingest.files_written": "count", "ingest.lake_bytes": "bytes",
    "naicsagg.s": "s", "naicsagg.shuffle_bytes": "bytes",
    "naicsagg.groups_out": "count", "naicsagg.groups_suppressed": "count",
    **{f"serve.{t}.p50_ms": "ms" for t in SERVE_SPANS},
    "driver.analysis_ms": "ms", "driver.optimization_ms": "ms",
    "driver.planning_ms": "ms",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_cpu_share": "share", "spark.task_overhead_ms": "ms",
    "spark.gc_ms": "ms", "spark.spill_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    **{f"registry.{s}.s": "s" for s in SHARDS},
    "registry.build_ms": "ms", "caching.entries_left": "count",
    "trace.overhead_ms": "ms", "trace.overhead_share": "share",
}


def per_layer(workload, ops, spans, stages, exp, n_cores, named):
    """Per-layer metrics from the traced operations (every other block);
    per-operation values are medians over those operations. A layer that
    does not run on the workload reports 0. ``named`` carries the
    workload-specific end-to-end metrics, reported here unbounded."""
    good = [op for op in ops if op["ok"] and not op["problems"]]
    traced = [op for op in good if op["traced"]]
    plain = [op for op in good if not op["traced"]]
    span_name = {s["id"]: s["name"] for s in spans}
    by_op = {}
    for st in stages:
        st["layer"] = span_name.get(st["span"], "")
        by_op.setdefault(st["op"], []).append(st)

    def per_op(fn):
        return _med(fn(by_op.get(op["i"], []), op) for op in traced)

    def total(sts, field, layer=None, cond=lambda s: True):
        return sum(s[field] for s in sts
                   if (layer is None or s["layer"] == layer) and cond(s))

    m = {k: 0.0 for k in PER_LAYER_UNITS}
    m.update({k: v for k, (v, _) in named.items() if k in m})
    if not traced:
        return m
    if workload == "qcew_pipeline":
        def scan(s):  # the raw-scan (decode) stages of ingestAll
            return s["in_bytes"] > 0

        def write(s):
            return s["out_bytes"] > 0
        decode_s = per_op(lambda sts, op: total(sts, "run_ms", "ingest", scan) / 1000)
        m["fixedwidth.decode_s"] = decode_s
        m["fixedwidth.decode_mb_per_core_s"] = (exp["raw_bytes"] / 1e6 / decode_s
                                                if decode_s else 0.0)
        m["fixedwidth.records"] = per_op(lambda sts, op: total(sts, "in_records", "ingest", scan))
        m["ingest.write_s"] = per_op(lambda sts, op: total(sts, "run_ms", "ingest", write) / 1000)
        m["ingest.shuffle_write_bytes"] = per_op(
            lambda sts, op: total(sts, "shuffle_write_bytes", "ingest"))
        m["ingest.files_written"] = _med(op["lake_files"] for op in traced)
        m["ingest.lake_bytes"] = _med(op["lake_bytes"] for op in traced)
        m["naicsagg.s"] = _med(span_ms(spans, traced, "naicsagg")) / 1000
        m["naicsagg.shuffle_bytes"] = per_op(
            lambda sts, op: total(sts, "shuffle_write_bytes", "naicsagg"))
        m["naicsagg.groups_out"] = _med(op["groups_out"] for op in traced)
        m["naicsagg.groups_suppressed"] = _med(op["groups_total"] - op["groups_out"]
                                               for op in traced)
        for t, name in SERVE_SPANS.items():
            m[f"serve.{t}.p50_ms"] = _med(span_ms(spans, traced, name))

    m["driver.analysis_ms"] = _med(op["phases_ms"]["analysis"] for op in traced)
    m["driver.optimization_ms"] = _med(op["phases_ms"]["optimization"] for op in traced)
    m["driver.planning_ms"] = _med(op["phases_ms"]["planning"] for op in traced)
    m["spark.jobs"] = _med(op["jobs"] for op in traced)
    m["spark.stages"] = per_op(lambda sts, op: len(sts))
    m["spark.tasks"] = per_op(lambda sts, op: total(sts, "tasks"))
    cpu_ns = sum(s["cpu_ns"] for op in traced for s in by_op.get(op["i"], []))
    wall_ns = sum(op["ms"] for op in traced) * 1e6
    m["spark.executor_cpu_share"] = cpu_ns / (wall_ns * n_cores)
    m["spark.task_overhead_ms"] = per_op(lambda sts, op: op["ms"] - total(sts, "run_ms") / n_cores)
    m["spark.gc_ms"] = per_op(lambda sts, op: total(sts, "gc_ms"))
    m["spark.spill_bytes"] = per_op(lambda sts, op: total(sts, "spill_bytes"))
    m["spark.shuffle_read_bytes"] = per_op(lambda sts, op: total(sts, "shuffle_read_bytes"))

    if workload == "registry_mix":
        for shard, v in by_type(traced).items():
            m[f"registry.{shard}.s"] = statistics.median(v) / 1000
        m["registry.build_ms"] = _med(span_ms(spans, traced, "build"))
        left = {}
        for op in ops:
            left.setdefault(op_type(op), []).append(op["entries_left"])
        m["caching.entries_left"] = sum(statistics.median(v) for v in left.values())

    # tracing overhead: per operation type, traced minus untraced median
    t_med = {k: statistics.median(v) for k, v in by_type(traced).items()}
    u_med = {k: statistics.median(v) for k, v in by_type(plain).items()}
    both = sorted(set(t_med) & set(u_med))
    if both:
        diff = sum(t_med[k] - u_med[k] for k in both)
        m["trace.overhead_ms"] = diff / len(both)
        m["trace.overhead_share"] = diff / sum(u_med[k] for k in both)
    return m


# ---- main --------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    work = os.path.join(ROOT, ".bench_build", f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        conf = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                "cores": cores(), "work": work, "setup_reps": SETUP_REPS,
                "warm_seconds": WARM_SECONDS[a.workload]}
        exp = None
        if a.workload == "registry_mix":
            import gen_registry
            data = os.path.join(work, "registry")
            gen_registry.generate(a.seed, data, REGISTRY_SCALE)
            conf.update(registry_dir=data, raw_glob="", trace_block=len(SHARDS))
            reqs = registry_requests(a.seed)
        else:
            exp, warm_glob = qcew_inputs(a.seed, work)
            conf.update(raw_glob=exp["raw_glob"], warm_glob=warm_glob, trace_block=1,
                        wages_dir=os.path.join(work, "qcew", "wages"),
                        dims_dir=os.path.join(work, "qcew", "dims"))
            reqs = pipeline_requests(a.seed, exp)
        ops, setup, spans, stages, out = run_harness(classpath, work, conf, reqs)
        if not ops:
            raise RuntimeError("no operation completed in the window")
        if a.workload == "registry_mix":
            check_registry_ops(ops, out, conf["registry_dir"])
        else:
            check_pipeline_ops(ops, out, exp)
        failed = [op for op in ops if not op["ok"] or op["problems"]]
        for op in failed[:5]:
            print(f"FAILED op {op['i']} {op['req']}: "
                  f"{op.get('err') or '; '.join(op['problems'][:3])}", file=sys.stderr)
        e2e, named = end_to_end(a.workload, ops, setup, spans, exp)
        if a.trace:
            metrics = {k: (v, PER_LAYER_UNITS[k]) for k, v in per_layer(
                a.workload, ops, spans, stages, exp, conf["cores"], named).items()}
        else:
            metrics = e2e
        for k, (v, u) in sorted({**named, **e2e, **metrics}.items()):
            print(f"{a.workload} {k} = {v:.6g} {u}")
        print(f"{a.workload} set-ups: " + ", ".join(f"{x:.3f} s" for x in setup["setup_s"]))
        if a.workload == "registry_mix":
            query = {op_type(op): op["query"] for op in ops if "query" in op}
            for shard, v in sorted(by_type(ops).items()):
                print(f"{a.workload} {shard} {query.get(shard, '?')}: median "
                      f"{statistics.median(v):.1f} ms of {len(v)}")
        print(f"{a.workload} operations: {len(ops)} attempted, {len(failed)} failed, "
              f"{sum(op['traced'] for op in ops)} traced")
        print(json.dumps({
            "correct": not failed, "attempted": len(ops), "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # noqa: BLE001 - any failure: message, no result line
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)

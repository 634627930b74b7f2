#!/usr/bin/env python3
"""Closed-loop benchmark of the extraction engine, one workload per run.

    python3 perfbench/run.py --workload extract_mix|query_mix
                             --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source into
.bench_build/, makes the workload's inputs from the seed, runs one JVM
(local[SPARK_GRAFT_CPUS], default and ceiling nproc), checks the
outputs, prints every metric with its unit, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run.
Exits 1 after the JSON line if an output check fails, and non-zero
without it if it cannot build or run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import oracle  # noqa: E402
import qdata  # noqa: E402
from stats import geomean, median, quartiles, self_times, subtree, tail_percentile  # noqa: E402

ROOT = HERE.parent
OUT = ROOT / ".bench_build"
WORKLOADS = ("extract_mix", "query_mix")
QDATA_SF = 0.01
TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
DIALECTS = ("pdf", "html", "plain")
STAGES = ("tokenize", "boiler", "header", "code", "table", "serialize", "extract_one")
# query_mix, in run order (fixed: queries share per-session builds)
QUERIES = ("q_graph_hits", "q_graph_ktruss", "q_graph_triangles", "q_graph_adamic_adar",
           "q_text_jsd", "q_events_kruskal_wallis", "q_events_kaplan_meier", "q_tpch_q9",
           "q_eval_bleu")
LAYERS = ("core", "pipeline", "io", "queries")


def per_layer_units():
    """Every per-layer metric name with its unit, in report order."""
    u = {}
    for d in DIALECTS:
        for s in STAGES:
            u[f"core.{d}.{s}_ns"] = "ns"
    u.update({"core.coverage": "ratio", "core.alloc_bytes_per_turn": "bytes",
              "core.hat_retry_rate": "ratio", "core.config_miss_rate": "ratio",
              "core.noconf_rate": "ratio", "core.extra_detector_rate": "ratio"})
    for c in ("header", "code", "table", "processing"):
        u[f"core.error_rows.{c}"] = "rows"
    u.update({"pipeline.scan_s": "s", "pipeline.decode_ns": "ns", "pipeline.executor_cpu_s": "s",
              "pipeline.gc_s": "s", "pipeline.tasks": "count", "pipeline.task_skew": "ratio",
              "pipeline.core_share": "ratio", "pipeline.scaling_1to4": "ratio",
              "io.wave_ms": "ms", "io.input_rows_per_turn": "rows/turn",
              "io.shuffle_write_bytes_per_turn": "bytes/turn", "io.spill_bytes": "bytes",
              "io.disk_bytes_per_turn": "bytes/turn", "io.files_written": "count", "io.gc_s": "s",
              "io.lookup_p50_ms": "ms", "io.lookup_p95_ms": "ms"})
    for q in QUERIES:
        u[f"queries.{q}_s"] = "s"
        u[f"queries.{q}_shuffle_bytes"] = "bytes"
    u.update({"queries.spill_bytes": "bytes", "queries.gc_s": "s", "queries.max_task_skew": "ratio",
              "queries.stages": "count", "queries.tasks": "count"})
    for layer in LAYERS:
        u[f"{layer}.self_s"] = "s"
    u["trace.overhead_ms"] = "ms"
    return u


E2E_UNITS = {"setup_s": "s", "pass_s": "s", "op_geomean_ms": "ms", "heap_peak_mb": "MB"}


def cores():
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    want = int(os.environ.get("SPARK_GRAFT_CPUS", nproc))
    return max(1, min(want, nproc))


def query_data():
    """The query_mix tables, generated once per checkout."""
    d = OUT / "data" / f"qmix-sf{QDATA_SF}"
    if not (d / "_DONE").is_file():
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        qdata.generate(str(d), QDATA_SF)
        (d / "_DONE").write_text("")
    return d


def run_jvm(cp, args, work, data, raw, deadline):
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "graft.perfbench.BenchMain",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores()), "--work", str(work),
            "--data", str(data), "--queries", ",".join(QUERIES), "--out", str(raw)]
    log = OUT / f"jvm-{args.workload}.log"
    with open(log, "w") as f:
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
        p = subprocess.Popen(cmd, cwd=str(OUT), env=env, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: run timed out (log: {log})")
    if rc != 0 or not raw.is_file():
        tail = log.read_text(errors="replace").splitlines()[-30:]
        raise SystemExit(f"perfbench: run failed with code {rc}\n" + "\n".join(tail))


def say(name, value, unit, note=""):
    print(f"  {name:<40} {value:>16.6g} {unit:<10} {note}".rstrip())


# ---------------------------------------------------------------- metrics


def untraced_passes(rec):
    return [x for x, t in zip(rec["pass_s"], rec["pass_traced"]) if not t]


def op_kinds(rec):
    kinds = [k for k in rec["op_ms"] if not k.endswith("_pass")]
    return kinds or list(rec["op_ms"])


def end_to_end(rec):
    passes = untraced_passes(rec)
    kinds = op_kinds(rec)
    return {
        "setup_s": rec["setup_s"],
        "pass_s": median(passes),
        "op_geomean_ms": geomean(median(rec["op_ms"][k]) for k in kinds),
        "heap_peak_mb": rec["heap_peak_mb"],
    }


def report_end_to_end(rec, m):
    w = rec["workload"]
    passes = untraced_passes(rec)
    q1, q2, q3 = quartiles(passes)
    print(f"== {w}: seed {rec['seed']}, local[{rec['cores']}] (nproc {rec['nproc']}), "
          f"{len(passes)} timed passes")
    say("setup_s", m["setup_s"], "s", "session build + warm-up")
    if "gen_s" in rec:
        say("input_gen_s", rec["gen_s"], "s", f"excluded; {rec['turns']} turns")
    say("pass_s", m["pass_s"], "s", f"median; q1 {q1:.4f} q3 {q3:.4f}")
    if w == "extract_mix":
        t = rec["turns"]
        say("extract_tps", t / q2, "turns/s",
            f"quartiles {t / q3:.0f}..{t / q1:.0f}; {len(passes)} passes; {t} turns")
    else:
        say("query_mix_s", m["pass_s"], "s", f"median of {len(passes)} passes")
        say("query_geomean_s", m["op_geomean_ms"] / 1000, "s", f"over {len(op_kinds(rec))} queries")
    say("op_geomean_ms", m["op_geomean_ms"], "ms", "geomean over op kinds of median latency")
    say("heap_peak_mb", m["heap_peak_mb"], "MB", "old gen after GC")
    fails = rec["failures"]
    say("failed_ratio", len(fails) / rec["attempted"], "ratio",
        f"{len(fails)} of {rec['attempted']} operations")
    for f in fails:
        print(f"    failed {f['op']}: {f['class']}")


def group_sum(rec, ids, field):
    g = rec.get("groups", {})
    return sum(g[str(i)][field] for i in ids if str(i) in g)


def group_tasks(rec, ids):
    g = rec.get("groups", {})
    return [t for i in ids if str(i) in g for t in g[str(i)]["task_ms"]]


def skew(tasks):
    return max(tasks) / max(median(tasks), 1) if tasks else 0.0


def per_layer(rec):
    units = per_layer_units()
    m = {k: 0.0 for k in units}
    spans = rec.get("spans", [])
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    traced = [x for x, t in zip(rec["pass_s"], rec["pass_traced"]) if t]
    plain = untraced_passes(rec)
    if traced and plain:
        m["trace.overhead_ms"] = (median(traced) - median(plain)) * 1000
    selfs = self_times(spans)
    for s in spans:
        layer = s["name"].split(".")[0]
        if layer in LAYERS:
            m[f"{layer}.self_s"] += selfs[s["span_id"]] / 1e9
    pass_spans = by_name.get("pass", [])

    core = rec.get("core")
    if core:
        mid = {k: median(v) for k, v in core["stage_ns"].items()}
        for k, v in mid.items():
            m[f"core.{k}_ns"] = v
        cov = [sum(mid[f"{d}.{s}"] for s in STAGES[:-1]) / mid[f"{d}.extract_one"] for d in DIALECTS]
        m["core.coverage"] = sum(cov) / len(cov)
        m["core.alloc_bytes_per_turn"] = median(core["alloc_bytes_per_turn"])
        for r in ("hat_retry_rate", "config_miss_rate", "noconf_rate", "extra_detector_rate"):
            m[f"core.{r}"] = core[r]
        for c in ("header", "code", "table", "processing"):
            m[f"core.error_rows.{c}"] = rec["error_rows"][c]

    if rec["workload"] == "extract_mix":
        pipeline_layer(rec, m, spans, pass_spans)
        io_layer(rec, m, spans, by_name)
    else:
        queries_layer(rec, m, spans, by_name)
    return m


def pipeline_layer(rec, m, spans, pass_spans):
    core = rec["core"]
    m["pipeline.scan_s"] = median(rec["scan_s"])
    m["pipeline.decode_ns"] = median(core["decode_ns"])
    cpu, gc, tasks, sk = [], [], [], []
    for p in pass_spans:
        ids = subtree(spans, p["span_id"])
        cpu.append(group_sum(rec, ids, "executor_cpu_ns") / 1e9)
        gc.append(p["gc_ms"] / 1000)
        tt = group_tasks(rec, ids)
        tasks.append(len(tt))
        sk.append(skew(tt))
    m["pipeline.executor_cpu_s"] = median(cpu)
    m["pipeline.gc_s"] = median(gc)
    m["pipeline.tasks"] = median(tasks)
    m["pipeline.task_skew"] = median(sk)
    dt = rec["dialect_turns"]
    core_ns = sum(dt.get(d, 0) * m[f"core.{d}.extract_one_ns"] for d in DIALECTS)
    m["pipeline.core_share"] = core_ns / 1e9 / m["pipeline.executor_cpu_s"]
    sc = rec["scaling"]
    if sc["resolved"]:
        m["pipeline.scaling_1to4"] = sc["tps_4"] / (4 * sc["tps_1"])


def io_layer(rec, m, spans, by_name):
    turns, table = rec["turns"], rec["table"]
    m["io.wave_ms"] = median(table["wave_ms"])
    (ing,) = by_name["op.ingest_pass"]
    ids = subtree(spans, ing["span_id"])
    m["io.input_rows_per_turn"] = group_sum(rec, ids, "input_records") / turns
    m["io.shuffle_write_bytes_per_turn"] = group_sum(rec, ids, "shuffle_write_bytes") / turns
    m["io.spill_bytes"] = group_sum(rec, ids, "spill_bytes")
    m["io.gc_s"] = ing["gc_ms"] / 1000
    m["io.disk_bytes_per_turn"] = table["bytes"] / turns
    m["io.files_written"] = table["files"]
    lk = rec["op_ms"]["lookup"]
    m["io.lookup_p50_ms"] = median(lk)
    v, _ = tail_percentile(lk, 95)
    m["io.lookup_p95_ms"] = v if v is not None else 0.0


def queries_layer(rec, m, spans, by_name):
    dur = lambda s: (s["end_ns"] - s["start_ns"]) / 1e9  # noqa: E731
    spill = gc = stages = tasks = 0.0
    max_sk = 0.0
    for q in QUERIES:
        qs = by_name.get(f"queries.{q}", [])
        if not qs:
            continue
        m[f"queries.{q}_s"] = median(dur(s) for s in qs)
        per = []
        for s in qs:
            ids = subtree(spans, s["span_id"])
            per.append(group_sum(rec, ids, "shuffle_write_bytes"))
            spill += group_sum(rec, ids, "spill_bytes") / len(qs)
            gc += s["gc_ms"] / 1000 / len(qs)
            stages += group_sum(rec, ids, "stages") / len(qs)
            tasks += group_sum(rec, ids, "tasks") / len(qs)
            max_sk = max(max_sk, skew(group_tasks(rec, ids)))
        m[f"queries.{q}_shuffle_bytes"] = median(per)
    m.update({"queries.spill_bytes": spill, "queries.gc_s": gc, "queries.max_task_skew": max_sk,
              "queries.stages": stages, "queries.tasks": tasks})


def report_per_layer(rec, m):
    units = per_layer_units()
    active = {"extract_mix": ("core", "pipeline", "io"), "query_mix": ("queries",)}[rec["workload"]]
    print(f"== {rec['workload']} traced run: seed {rec['seed']}, {len(rec.get('spans', []))} spans")
    for layer in LAYERS + ("trace",):
        names = [k for k in units if k.split(".")[0] == layer]
        if layer not in active and layer != "trace":
            print(f"  {layer}: not exercised by this workload (reported as 0)")
            continue
        for k in names:
            say(k, m[k], units[k])
    if rec["workload"] == "extract_mix":
        if not rec["scaling"]["resolved"]:
            print("  pipeline.scaling_1to4 unresolved: 4 cores exceed nproc")
        t = rec["table"]
        say("ingest_tps", rec["turns"] / t["ingest_s"], "turns/s",
            f"extract + writeExtracted, {rec['turns']} turns")
        lk = rec["op_ms"]["lookup"]
        v, top = tail_percentile(lk, 95)
        say("lookup_p50_ms", median(lk), "ms", f"{len(lk)} lookups")
        if v is None:
            print(f"  {'lookup_p95_ms':<40} {'unresolved':>16} ms         "
                  f"{len(lk)} lookups resolve only p{top}")
        else:
            say("lookup_p95_ms", v, "ms", f"{len(lk)} lookups")


# ------------------------------------------------------------- correctness


def correctness(rec, data):
    """(correct, list of problems)."""
    problems = []
    checks = {**rec.get("check", {}), **rec.get("table_check", {})}
    for k, v in checks.items():
        if k.endswith(("_mismatch", "_missing", "_extra", "_bad")) and v:
            problems.append(f"{k}={v}")
    if "table_check" in rec and not checks["lookups_checked"]:
        problems.append("no lookup was checked")
    if rec["workload"] == "query_mix":
        res = oracle.compare(str(data), qdata.TABLES, rec["results_dir"], rec["oracle_sql"],
                             OUT / "oracle")
        ok = sum(1 for v in res.values() if v is None)
        print(f"  oracle: {ok}/{len(res)} queries equal their DuckDB oracle")
        problems += [f"{q}: {why}" for q, why in res.items() if why]
    for k, v in checks.items():
        print(f"  check {k} = {v}")
    return not problems, problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: run from a checkout of the repository (src/main/scala missing)")
    OUT.mkdir(exist_ok=True)
    t0 = time.monotonic()
    cp = build.build(ROOT, OUT)
    print(f"== build ready in {time.monotonic() - t0:.1f} s")
    deadline = time.monotonic() + TIMEOUT_S
    data = query_data() if args.workload == "query_mix" else ""
    work = OUT / "work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    raw = OUT / f"raw-{args.workload}.json"
    raw.unlink(missing_ok=True)
    run_jvm(cp, args, work, data, raw, deadline)
    rec = json.loads(raw.read_text())
    ok, problems = correctness(rec, data)
    shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics = per_layer(rec)
        report_per_layer(rec, metrics)
        units = per_layer_units()
    else:
        metrics = end_to_end(rec)
        report_end_to_end(rec, metrics)
        units = E2E_UNITS
    for p in problems:
        print(f"  MISMATCH {p}")
    print(json.dumps({"correct": ok, "attempted": rec["attempted"], "failed": len(rec["failures"]),
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

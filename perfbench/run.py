#!/usr/bin/env python3
"""graft's benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload <dashboard|rollup|ingest|pipeline>
                             --seed N --seconds S --trace 0|1

Builds graft and the benchmark program (build.py), generates the workload's inputs
from the seed (gen.py), runs perfbench.Main in one JVM, checks every
result, and prints the metrics. The last stdout line is one JSON object
{correct, attempted, failed, metrics}: with --trace 0 the end-to-end
metrics of BENCHMARK.json, with --trace 1 its per-layer metrics. The
full record (the workload's named metrics, every layer metric, host
state, operation times, failures and, traced, the spans) goes to
.perfbench/out/<workload>-s<seed>-t<trace>.json; summary.py reads those.
"""
import argparse
import datetime as dt
import json
import math
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True   # leave nothing but records under the checkout's .perfbench

import build  # noqa: E402
import gen    # noqa: E402

WORKLOADS = ("dashboard", "rollup", "ingest", "pipeline")
DASHBOARD_RATE = 2.0        # statements per second, open loop
SETUP_REPS = 3              # session start + registration, repeated; median kept
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def host_state():
    """nproc, load average and cumulative steal seconds, so a noisy run
    identifies itself."""
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    steal = 0.0
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("cpu "):
                steal = int(line.split()[8]) / os.sysconf("SC_CLK_TCK")
                break
    return {"nproc": len(os.sched_getaffinity(0)), "load_avg": load, "steal_s": steal,
            "time": dt.datetime.now(dt.timezone.utc).isoformat()}


def median(xs):
    return statistics.median(xs) if xs else None


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return None
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


# ------------------------------------------------------------ inputs

def prepare(args, work, data_root, cpus):
    """Writes the inputs and the JVM's properties; returns (props, plan)."""
    props = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
             "trace": args.trace, "cpus": cpus, "work": work, "out": work / "raw.jsonl",
             "setup_reps": SETUP_REPS}
    plan = {}
    if args.workload in ("dashboard", "rollup"):
        data, rows = gen.fact_tables(data_root, args.workload)
        # enough statements for the window at any speed graft can reach
        n = int(DASHBOARD_RATE * args.seconds) + 1 if args.workload == "dashboard" else 60 * args.seconds
        stmts = gen.statements(args.seed, n)
        # five rounds of every template: with two, statements still ran
        # about 2x slower in the first half of the window on a busy host
        warm = [dict(s, id=f"warm{i}") for i, s in enumerate(gen.statements(args.seed + 7919, 5 * len(gen.TEMPLATES)))]
        for name, ss in (("stmts", stmts), ("warm_stmts", warm)):
            (work / f"{name}.tsv").write_text("".join(f"{s['id']}\t{s['template']}\t{s['sql']}\n" for s in ss))
            props[name] = work / f"{name}.tsv"
        props.update(data=data, rate=DASHBOARD_RATE)
        plan = {"data": data, "rows": rows, "stmts": {s["id"]: s for s in stmts}}
    elif args.workload == "ingest":
        initial, ops = gen.ingest_plan(args.seed, work, batches=3 * args.seconds)
        (work / "ingest_ops.tsv").write_text("".join(
            f"insert\t{o['path']}\n" if o["op"] == "insert" else f"delete\t{o['part']}\t{o['mod']}\t{o['rem']}\n"
            for o in ops))
        props.update(ingest_initial=initial, ingest_ops=work / "ingest_ops.tsv")
        plan = {"initial": initial, "ops": ops}
    else:
        plan = gen.pipeline_corpus(args.seed, work)
        d = work / "pipeline"
        props.update(docs=d / "docs", vecs=d / "vecs",
                     near_docs=d / "near_docs.tsv", near_vecs=d / "near_vecs.tsv")
    return props, plan


def run_jvm(classpath, props, work, timeout):
    pfile = work / "run.properties"
    pfile.write_text("".join(f"{k}={str(v)}\n".replace("\\", "\\\\") for k, v in props.items()))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(props["cpus"]),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
           "-cp", classpath, "perfbench.Main", str(pfile)]
    (work / "tmp").mkdir()
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"perfbench: JVM exited with {rc}\n{tail}")
    recs = [json.loads(line) for line in (work / "raw.jsonl").read_text().splitlines() if line]
    by = {}
    for r in recs:
        by.setdefault(r["t"], []).append(r)
    return by


# ------------------------------------------------------------ checks

def _norm(v):
    """A JVM or DuckDB value in one comparable form."""
    if isinstance(v, (dt.datetime, dt.date)):
        return dt.datetime(v.year, v.month, v.day, *(
            (v.hour, v.minute, v.second, v.microsecond) if isinstance(v, dt.datetime) else ()))
    if isinstance(v, str):
        try:
            return _norm(dt.datetime.fromisoformat(v))
        except ValueError:
            return v
    if isinstance(v, tuple):
        return list(v)
    if hasattr(v, "is_finite"):     # Decimal
        return float(v)
    return v


def same(a, b):
    a, b = _norm(a), _norm(b)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def check_scan(ops, plan):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    casts = {"lineitem": "l_shipdate", "orders": "o_orderdate"}
    for t, c in casts.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * REPLACE (CAST({c} AS TIMESTAMP) AS {c}) "
                    f"FROM read_parquet('{plan['data']}/{t}/*.parquet')")
    bad = []
    for o in ops:
        if not o["ok"]:
            bad.append((o["id"], o["err"]))
            continue
        s = plan["stmts"][o["id"]]
        want = [list(r) for r in con.execute(s["oracle"]).fetchall()]
        if not same(o["result"], want):
            bad.append((o["id"], f"{s['template']}: got {str(o['result'])[:300]} want {str(want)[:300]}"))
    return bad


def check_ingest(ops, plan):
    """Every FINAL read must equal the model's state after some write
    that could have committed while the read ran."""
    writes = sorted((o for o in ops if o["id"].startswith("w")), key=lambda o: int(o["id"][1:]))
    model = gen.IngestModel(plan["initial"])
    states = [model.fingerprint()]
    for op in plan["ops"][:len(writes)]:
        model.apply(op)
        states.append(model.fingerprint())
    bad = [(o["id"], o["err"]) for o in ops if not o["ok"]]
    for o in ops:
        if o["kind"] != "read" or not o["ok"]:
            continue
        lo = sum(1 for w in writes if w["end_ms"] <= o["start_ms"])
        hi = sum(1 for w in writes if w["start_ms"] <= o["end_ms"])
        got = o["result"][0]
        if not any(same(got, states[j]) for j in range(lo, hi + 1)):
            bad.append((o["id"], f"FINAL read {got} matches no committed state in {lo}..{hi} "
                                 f"({states[lo]} .. {states[hi]})"))
    return bad, states[len(writes)]


def check_pipeline(ops, plan):
    bad = [(o["id"], o["err"]) for o in ops if not o["ok"]]
    good = [o for o in ops if o["ok"]]
    for o in good:
        r = o["result"]
        if r["exact_dups"] != plan["exact_dups"]:
            bad.append((o["id"], f"exact dups {r['exact_dups']} != planted {plan['exact_dups']}"))
        if r["docs"] != plan["docs"]:
            bad.append((o["id"], f"docs {r['docs']} != {plan['docs']}"))
    # the operators are deterministic: every pass must give the same output
    keys = ("minhash_pairs", "simhash_pairs", "ann_pairs", "curate")
    for o in good[1:]:
        for k in keys:
            if o["result"][k] != good[0]["result"][k]:
                bad.append((o["id"], f"{k} differs from pass {good[0]['id']}"))
    return bad


# ------------------------------------------------------------ metrics

def exec_totals(by, ids):
    tot = {}
    for e in by.get("exec", []):
        if e["id"].split(".", 1)[0] in ids:
            for k, v in e.items():
                if k not in ("t", "id"):
                    tot[k] = tot.get(k, 0) + v
    return tot


def span_stats(by, ids):
    spans = [s for s in by.get("span", []) if s["stmt"].split(".", 1)[0] in ids]
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_ms"] - s["start_ms"]
    self_ms, dur = {}, {}
    for s in spans:
        d = s["end_ms"] - s["start_ms"]
        self_ms[s["name"]] = self_ms.get(s["name"], 0.0) + d - child.get(s["id"], 0.0)
        dur.setdefault(s["name"], []).append(d)
    return self_ms, dur


def layer_metrics(w, by, ops, jvm, setups):
    ids = {o["id"] for o in ops}
    phases = [p for p in by.get("phase", []) if p["id"].split(".", 1)[0] in ids]
    tot = exec_totals(by, ids)
    self_ms, dur = span_stats(by, ids)
    n = max(1, len(ops))
    wall = jvm["wall_s"]
    cpu = tot.get("cpu_s", 0.0)

    def mean_phase(k):
        xs = [p[k] for p in phases if k in p]
        return statistics.fmean(xs) if xs else 0.0

    catalyst_ms = sum(p.get(k, 0) for p in phases for k in ("parsing", "analysis", "optimization", "planning"))
    op_ms = sum(o["end_ms"] - o["start_ms"] for o in ops)
    m = {
        "GraftSession.start_s": median([s["start_s"] for s in setups]),
        "GraftSession.warmup_s": by["warmup"][0]["warmup_s"],
        "plans.ChSqlParser.rewrite_ms": statistics.fmean(dur.get("plans.ChSqlParser.rewrite", [0.0])),
        "catalyst.parse_ms": mean_phase("parsing"),
        "catalyst.analysis_ms": mean_phase("analysis"),
        "catalyst.optimize_ms": mean_phase("optimization"),
        "catalyst.planning_ms": mean_phase("planning"),
        "exec.jobs_per_op": tot.get("jobs", 0) / n,
        "exec.stages_per_op": tot.get("stages", 0) / n,
        "exec.tasks_per_op": tot.get("tasks", 0) / n,
        "exec.sched_wait_ms": tot.get("sched_wait_ms", 0) / n,
        "exec.cpu_s": cpu,
        "exec.run_s": tot.get("run_s", 0.0),
        "exec.cpu_util": cpu / (wall * jvm["cores"]),
        "exec.input_bytes": tot.get("input_bytes", 0),
        "exec.shuffle_read_bytes": tot.get("shuffle_read_bytes", 0),
        "exec.shuffle_write_bytes": tot.get("shuffle_write_bytes", 0),
        "jvm.gc_s": jvm["gc_s"],
        "jvm.heap_after_gc_mb": jvm["heap_after_gc_mb"],
        "self.rewrite_s": self_ms.get("plans.ChSqlParser.rewrite", 0.0) / 1e3,
        "self.sql_s": self_ms.get("spark.sql", 0.0) / 1e3,
        "self.plan_s": self_ms.get("catalyst.plan", 0.0) / 1e3,
        "self.exec_s": self_ms.get("exec.collect", 0.0) / 1e3,
        "share.catalyst_sched": (catalyst_ms + tot.get("sched_wait_ms", 0)) / op_ms if op_ms else 0.0,
    }
    # layers only some workloads reach: kept in the record, not in the
    # contract's per-layer list (which every workload must fill)
    extra = {"exec.spill_bytes": tot.get("spill_bytes", 0)}
    if w == "ingest":
        ins = [o["id"] for o in ops if o["kind"] == "insert"]
        muts = [o["id"] for o in ops if o["kind"] in ("delete", "optimize")]
        ti, tm = exec_totals(by, set(ins)), exec_totals(by, set(muts))
        reads = {o["id"] for o in ops if o["kind"] == "read"}
        rp = [p for p in phases if p["id"] in reads]
        extra.update({
            "sources.files_written": sum(f["new_files"] for f in by.get("files", [])) / max(1, len(ins)),
            "sources.bytes_written": ti.get("output_bytes", 0),
            "sources.write_ms": median([o["end_ms"] - o["start_ms"] for o in ops if o["kind"] == "insert"]),
            "plans.ChCommands.mutate_ms": median([o["end_ms"] - o["start_ms"] for o in ops if o["kind"] == "delete"]),
            "plans.ChCommands.optimize_ms": median([o["end_ms"] - o["start_ms"] for o in ops if o["kind"] == "optimize"]),
            "plans.ChCommands.bytes_rewritten": tm.get("output_bytes", 0),
            "operators.Replicate.final_plan_ms": statistics.fmean(
                [sum(p.get(k, 0) for k in ("parsing", "analysis", "optimization", "planning")) for p in rp])
            if rp else None,
            "operators.Replicate.final_exec_ms": median(
                [s["end_ms"] - s["start_ms"] for s in by.get("span", [])
                 if s["name"] == "exec.collect" and s["stmt"] in reads]),
        })
    if w == "pipeline":
        passes = max(1, len(ops))
        for stage in ("operators.Dedup.exact", "operators.Dedup.minhash", "operators.Dedup.simhash",
                      "operators.Similarity.ann_lsh", "operators.TextAnalysis.curate"):
            sids = {f"{o['id']}.{stage}" for o in ops}
            t = {}
            for e in by.get("exec", []):
                if e["id"] in sids:
                    for k in ("cpu_s", "shuffle_write_bytes"):
                        t[k] = t.get(k, 0) + e[k]
            extra[f"{stage}_s"] = sum(dur.get(stage, [])) / 1e3 / passes
            extra[f"{stage}_cpu_s"] = t.get("cpu_s", 0.0) / passes
            extra[f"{stage}_shuffle_bytes"] = t.get("shuffle_write_bytes", 0) / passes
        stage_s = sum(v for k, v in extra.items() if k.endswith("_s") and not k.endswith("cpu_s"))
        pass_s = statistics.fmean([(o["end_ms"] - o["start_ms"]) / 1e3 for o in ops]) if ops else 0
        extra["operators.share_of_pass"] = stage_s / pass_s if pass_s else None
    if w == "dashboard":
        lates = [s["late_ms"] for s in by.get("sent", [])]
        extra["loadgen.late_p90_ms"] = pct(lates, 0.9)
        extra["loadgen.in_flight_max"] = by["loadgen"][0]["in_flight_max"]
    return m, extra


def e2e_metrics(w, by, ops, plan, setups, final_state):
    setup_s = median([s["start_s"] + s["register_s"] for s in setups]) + by["warmup"][0]["warmup_s"]
    named = {"setup_s": setup_s}
    if w in ("dashboard", "rollup"):
        lat = [o["end_ms"] - (o["due_ms"] if w == "dashboard" else o["start_ms"]) for o in ops]
        rows = sum(plan["rows"][plan["stmts"][o["id"]]["table"]] for o in ops)
        end_s = max(o["end_ms"] for o in ops) / 1e3
        named.update(stmt_p50_ms=median(lat), rows_per_s=rows / end_s, statements=len(ops),
                     stmt_p90_ms=pct(lat, 0.9) if len(lat) >= 100 else None)
        op_p50, rate = named["stmt_p50_ms"], named["rows_per_s"]
    elif w == "ingest":
        ins = [o for o in ops if o["kind"] == "insert" and o["ok"]]
        reads = [o["end_ms"] - o["start_ms"] for o in ops if o["kind"] == "read" and o["id"] != "final-read"]
        # change rows committed per second of the window, up to the last
        # write before the closing OPTIMIZE (reported on its own)
        writes_end = max(o["end_ms"] for o in ops if o["kind"] in ("insert", "delete")) / 1e3
        rows = sum(plan["ops"][int(o["id"][1:])]["rows"] for o in ins)
        live_rows = final_state[0]
        named.update(ingest_rows_per_s=rows / writes_end, rows_ingested=rows,
                     insert_p50_ms=median([o["end_ms"] - o["start_ms"] for o in ins]),
                     final_read_p50_ms=median(reads), reads=len(reads),
                     bytes_per_user_byte=by["table"][0]["bytes_on_disk"] / (live_rows * 29))
        op_p50, rate = named["final_read_p50_ms"], named["ingest_rows_per_s"]
    else:
        good = [o for o in ops if o["ok"]]
        secs = [(o["end_ms"] - o["start_ms"]) / 1e3 for o in good]
        found = sum(o["result"]["minhash_found"] + o["result"]["ann_found"] for o in good)
        planted = len(good) * (plan["near_docs"] + plan["near_vecs"])
        named.update(docs_per_s=plan["docs"] * len(good) / sum(secs), passes=len(good),
                     near_dup_recall=found / planted if planted else None,
                     minhash_recall=statistics.fmean([o["result"]["minhash_found"] / plan["near_docs"] for o in good]),
                     simhash_recall=statistics.fmean([o["result"]["simhash_found"] / plan["near_docs"] for o in good]),
                     ann_recall=statistics.fmean([o["result"]["ann_found"] / plan["near_vecs"] for o in good]))
        op_p50, rate = median(secs) * 1e3, named["docs_per_s"]
    return {"setup_s": setup_s, "op_p50_ms": op_p50, "rows_per_s": rate}, named


UNITS = {"setup_s": "s", "op_p50_ms": "ms", "rows_per_s": "1/s", "sources.files_written": "count",
         "sources.bytes_written": "bytes", "plans.ChCommands.bytes_rewritten": "bytes",
         "statements": "count", "reads": "count", "passes": "count", "loadgen.in_flight_max": "count"}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    for suf, u in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"), ("_mb", "MB")):
        if name.endswith(suf):
            return u
    return "count" if name.startswith("exec.") and name.endswith("_op") else "ratio"


T0 = time.monotonic()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    host0 = host_state()
    cpus = host0["nproc"]
    classpath = build.build()
    state = ROOT / ".perfbench"
    work = state / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    timing = {"build_s": time.monotonic()}
    try:
        props, plan = prepare(args, work, state / "data", cpus)
        timing["prepare_s"] = time.monotonic()
        by = run_jvm(classpath, props, work, timeout=args.seconds + 120)
        timing["jvm_s"] = time.monotonic()
        ops = by.get("op", [])
        if not ops:
            raise SystemExit("perfbench: no operations completed")
        final_state = None
        if args.workload in ("dashboard", "rollup"):
            bad = check_scan(ops, plan)
        elif args.workload == "ingest":
            bad, final_state = check_ingest(ops, plan)
        else:
            bad = check_pipeline(ops, plan)
        timing["check_s"] = time.monotonic()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host1 = host_state()
    marks = [T0] + list(timing.values())
    timing = {k: b - a for k, a, b in zip(timing, marks, marks[1:])}

    setups = by["setup"]
    e2e, named = e2e_metrics(args.workload, by, ops, plan, setups, final_state)
    layer, extra = layer_metrics(args.workload, by, ops, by["jvm"][0], setups) if args.trace else ({}, {})
    failed = len({b[0] for b in bad})
    measured = {o["id"] for o in ops}
    named["fail_ratio"] = failed / len(ops)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
              "SPARK_GRAFT_CPUS": cpus, "host_start": host0, "host_end": host1,
              "host.steal_s": host1["steal_s"] - host0["steal_s"],
              "e2e": e2e, "named": named, "per_layer": layer, "layer_extra": extra,
              "timing": timing, "setups": setups + by["warmup"],
              "ops": [{k: o[k] for k in ("id", "kind", "due_ms", "start_ms", "end_ms", "ok")} for o in ops],
              "spans": [{k: v for k, v in sp.items() if k != "t"} for sp in by.get("span", [])
                        if sp["stmt"].split(".", 1)[0] in measured],
              "attempted": len(ops), "failed": failed, "failures": bad[:20]}
    outdir = state / "out"
    outdir.mkdir(parents=True, exist_ok=True)
    (outdir / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(json.dumps(record, indent=1))

    for b in bad[:10]:
        print(f"FAIL {b[0]}: {b[1]}")
    for k, v in list(named.items()) + list(layer.items()) + list(extra.items()):
        if v is not None:
            print(f"{args.workload:9s} {k:42s} {v:14.4f} {unit_of(k)}")
    metrics = layer if args.trace else e2e
    print(json.dumps({"correct": not bad, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark of the deposit engine: the service write/read path, a cold
restart that replays the changelog, and a fixed batch-query mix.

    python3 perfbench/run.py --workload service_mixed|restart_replay|query_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (perfbench/build.sbt) into target/ directories and
caches the runtime classpath under .bench_build/; later runs start the JVM
directly. Inputs come from --seed only. Every outcome is checked; the last
stdout line is one JSON object: correct, attempted, failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1). The
lines before it print every metric by name with its unit. Metric meanings
and the layer each one belongs to are listed in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import stats  # noqa: E402

HEAP = "3g"
QUERY_SF = 0.01
REPLAY_DEPOSITS = 100_000
JVM_TIMEOUT = 150
# The module opens Spark needs outside spark-submit (jdk17AddOpens in the
# root build.sbt).
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ----------------------------------------------------------------- build

def build():
    """Compile engine + benchmark once per source digest; return classpath."""
    sources = [ROOT / "build.sbt", ROOT / "src" / "main", HERE / "build.sbt", HERE / "src"]
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("engine sources (build.sbt, src/main/scala) are not next to the benchmark")
    h = hashlib.sha256()
    for s in sources:
        for f in sorted([s] if s.is_file() else s.rglob("*")):
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    # One stamp, not one per digest: the classes under target/ are those of
    # the last build, so any other digest must build again.
    stamp = BUILD / "classpath.json"
    if stamp.is_file():
        built = json.loads(stamp.read_text())
        if built["digest"] == h.hexdigest():
            return built["classpath"]
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, capture_output=True, text=True, timeout=850, stdin=subprocess.DEVNULL)
    cps = [ln for ln in proc.stdout.splitlines() if "classes" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        fail("sbt build failed")
    BUILD.mkdir(exist_ok=True)
    stamp.write_text(json.dumps({"digest": h.hexdigest(), "classpath": cps[-1].strip()}))
    return cps[-1].strip()


# ------------------------------------------------------------------- jvm

PROCS = []  # every JVM started, so none outlives the run


def jvm(cp, main, work, args, env=None, stdout=subprocess.DEVNULL):
    """Start one benchmark JVM; its temp and Spark dirs live under `work`."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *OPENS, f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-cp", cp, f"perfbench.{main}", "--work", str(work), *args]
    e = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"), **(env or {}))
    with open(work / "jvm.log", "w") as log:
        PROCS.append(subprocess.Popen(cmd, cwd=work, env=e, stdout=stdout, stderr=log,
                                      stdin=subprocess.DEVNULL, text=True))
    return PROCS[-1]


def finish(proc, work, timeout=JVM_TIMEOUT):
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = "timeout"
    if code != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail(f"benchmark JVM in {work.name} ended with {code}")
    return json.loads((work / "raw.json").read_text())


def common_args(a):
    return ["--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", "1" if a.trace else "0"]


# ------------------------------------------------------------ per layer

def streaming_layer(engine, acks):
    """streaming.* from StreamingQueryListener progress and task totals."""
    prog = engine.get("progress", [])
    dur = lambda k: [p["duration_ms"].get(k, 0) for p in prog]  # noqa: E731
    t = engine.get("tasks", {}).get("streaming", {})
    last = {}
    for p in prog:
        if p["batch"] >= last.get(p["query"], {"batch": -1})["batch"]:
            last[p["query"]] = p
    rows = sum(p["rows"] for p in prog)
    return {
        "streaming.batches": len(prog),
        "streaming.batches_per_ack": stats.ratio(len(prog), acks),
        "streaming.rows_per_batch": stats.ratio(rows, len(prog)),
        "streaming.trigger_ms_p50": stats.median(dur("triggerExecution")),
        "streaming.add_batch_ms_p50": stats.median(dur("addBatch")),
        "streaming.planning_ms_p50": stats.median(dur("queryPlanning")),
        "streaming.wal_commit_ms_p50": stats.median(dur("walCommit")),
        "streaming.commit_offsets_ms_p50": stats.median(dur("commitOffsets")),
        "streaming.state_rows": sum(p["state_rows"] for p in last.values()),
        "streaming.state_bytes": sum(p["state_bytes"] for p in last.values()),
        "streaming.state_commit_ms": stats.median([p["state_commit_ms"] for p in prog]),
        "streaming.task_s": t.get("run_ms", 0) / 1e3,
        "streaming.cpu_s": t.get("cpu_ns", 0) / 1e9,
        "streaming.gc_s": t.get("gc_ms", 0) / 1e3,
        "streaming.shuffle_bytes": t.get("shuffle_read_bytes", 0) + t.get("shuffle_write_bytes", 0),
    }


def span_layer(work_dirs):
    spans = []
    for w in work_dirs:
        f = w / "spans.jsonl"
        if f.is_file():
            spans += [json.loads(ln) for ln in f.read_text().splitlines() if ln]
    out = {"trace.spans": len(spans)}
    st = stats.self_times(spans)
    for name in SPAN_NAMES:
        out[f"trace.{name}.self_s"] = st.get(name, (0, 0.0))[1]
    return out


def overhead(traced, untraced):
    """Traced-minus-untraced difference of the workload's headline latency."""
    t, u = stats.median(traced), stats.median(untraced)
    if t is None or u is None:
        return {"trace.overhead_ms": None, "trace.overhead_base_ms": u}
    return {"trace.overhead_ms": t - u, "trace.overhead_base_ms": u}


def host_layer(host):
    return {f"host.{k}": v for k, v in host.items()}


# ------------------------------------------------------------ workloads

def service_mixed(cp, a, work, t_start):
    raw = finish(jvm(cp, "ServiceMixed", work, common_args(a)), work)
    w, posts, gets = raw["window"], raw["posts"], raw["gets"]
    acks = [p for p in posts if p["kind"] == "ok" and p["good"]
            and w["start"] <= p["send"] < w["end"]]
    ack_ms = [(p["end"] - p["send"]) * 1e3 for p in acks]
    span = max(p["end"] for p in acks) - w["start"] if acks else 0
    get_ms = stats.due_latencies_ms(gets)
    status = lambda c: sum(1 for p in posts if p["status"] == c)  # noqa: E731
    all_acks = sum(1 for p in posts if p["kind"] == "ok" and p["good"])
    failed = (sum(not p["good"] for p in posts) + sum(not g["good"] for g in gets)
              + raw["check"]["mismatches"])
    attempted = len(posts) + len(gets) + raw["check"]["wallets"]
    e2e = {
        "setup_s": raw["first_op_epoch"] - t_start,
        # Mean, not median: under the unfair write lock one writer tends to
        # re-acquire it, so POST latencies split into two modes and the
        # median flips between them from run to run.
        "latency_ms": stats.mean(ack_ms),
        "throughput_per_s": len(acks) / span if span else None,
        "retained_heap_mb": raw["heap_mb"],
    }
    info = [
        ("deposit_ack_per_s", e2e["throughput_per_s"], "deposits/s",
         f"{len(acks)} ACKs / {span:.3f} s"),
        ("post_ack_mean_ms", e2e["latency_ms"], "ms", f"n={len(ack_ms)}"),
        ("post_ack_p50_ms", stats.median(ack_ms), "ms", f"n={len(ack_ms)}"),
        ("post_ack_p90_ms", stats.percentile(ack_ms, 90), "ms",
         f"n={len(ack_ms)}, needs {stats.needed_samples(90)}"),
        ("check_p50_ms", stats.median(get_ms), "ms", f"n={len(get_ms)}, from due time"),
        ("check_p99_ms", stats.percentile(get_ms, 99), "ms",
         f"n={len(get_ms)}, needs {stats.needed_samples(99)}"),
    ]
    layer = {}
    if a.trace:
        tr_acks = sum(1 for p in acks if p["traced"])
        layer.update(streaming_layer(raw["engine"], tr_acks))
        layer.update(span_layer([work]))
        layer.update(overhead([x for p, x in zip(acks, ack_ms) if p["traced"]],
                              [x for p, x in zip(acks, ack_ms) if not p["traced"]]))
        layer.update(host_layer(raw["host"]))
    late = stats.lateness_ms(gets)
    layer.update({
        "session.create_s": raw["session_create_s"],
        "service.boot_s": raw["boot_s"],
        "service.acks": all_acks,
        "service.duplicates": sum(1 for p in posts if p["kind"] == "dup" and p["good"]),
        "service.rejects_422": status(422),
        "service.rejects_503": status(503),
        "service.errors": sum(1 for p in posts if p["status"] >= 500 or p["status"] < 0),
        "service.log_bytes_per_ack": stats.ratio(raw["log_bytes"], all_acks),
        "service.check_p50_ms": stats.median(get_ms),
        "service.check_p99_ms": stats.percentile(get_ms, 99),
        "service.check_late_ms": stats.percentile(late, 99),
    })
    return e2e, layer, attempted, failed, info, raw["check"], raw["host"]


def restart_replay(cp, a, work, _t_start):
    logdir = work / "log"
    logdir.mkdir(parents=True)
    gen.changelog(logdir / "deposits.jsonl", a.seed, REPLAY_DEPOSITS)
    t_first = time.time()
    runs = []
    while len(runs) < (2 if a.trace else 1) or time.time() - t_first < a.seconds:
        i = len(runs)
        traced = a.trace and i % 2 == 1
        rw = work / f"restart{i}"
        rw.mkdir()
        t0 = time.perf_counter()
        p = jvm(cp, "RestartReplay", rw,
                ["--log", str(logdir), "--seed", str(a.seed), "--trace", "1" if traced else "0"],
                stdout=subprocess.PIPE)
        ready = bound = None
        for line in p.stdout:
            if line.startswith("SESSION"):
                ready = time.perf_counter() - t0
            elif line.startswith("BOUND"):
                bound = time.perf_counter() - t0
                break
        p.stdout.close()
        raw = finish(p, rw)
        if ready is None or bound is None:
            fail("restarted service never bound its port")
        runs.append((bound, traced, rw, raw, ready))
    replay = [r[0] for r in runs]
    deposits = runs[0][3]["deposits"]
    mism = sum(r[3]["check"]["mismatches"] for r in runs)
    attempted = sum(r[3]["check"]["wallets"] for r in runs) + len(runs)
    e2e = {
        # process start -> session ready; the changelog written above is not
        # timed, as no engine code runs in it.
        "setup_s": stats.median([r[4] for r in runs]),
        "latency_ms": stats.median(replay) * 1e3,
        # deposits per second of the service constructor alone (the replay
        # proper), so JVM and session start stay out of it.
        "throughput_per_s": deposits / stats.median([r[3]["boot_s"] for r in runs]),
        "retained_heap_mb": stats.median([r[3]["heap_mb"] for r in runs]),
    }
    info = [("replay_s", stats.median(replay), "s",
             f"median of {len(runs)} cold restarts over {REPLAY_DEPOSITS} logged deposits")]
    layer = {}
    if a.trace:
        tr = [r for r in runs if r[1]]
        eng = tr[-1][3]["engine"]
        layer.update(streaming_layer(eng, deposits))
        trig = {}
        for p in eng.get("progress", []):
            trig[p["query"]] = trig.get(p["query"], 0) + p["duration_ms"].get("triggerExecution", 0)
        boot = tr[-1][3]["boot_s"]
        layer["service.replay_other_s"] = boot - max(trig.values(), default=0) / 1e3
        layer.update(span_layer([r[2] for r in tr]))
        layer.update(overhead([r[0] * 1e3 for r in tr], [r[0] * 1e3 for r in runs if not r[1]]))
        layer.update(host_layer(runs[-1][3]["host"]))
    layer.update({
        "session.create_s": stats.median([r[3]["session_create_s"] for r in runs]),
        "service.boot_s": stats.median([r[3]["boot_s"] for r in runs]),
    })
    return e2e, layer, attempted, mism, info, runs[-1][3]["check"], runs[-1][3]["host"]


def query_mix(cp, a, work, t_start):
    data = work / "data"
    data.mkdir(parents=True)
    gen.tables(data, a.seed, QUERY_SF)
    raw = finish(jvm(cp, "QueryMix", work, common_args(a) + ["--data", str(data)],
                     env={"SPARK_GRAFT_INDEX_ROOT": str(work / "index")}), work)
    names = [q["name"] for q in raw["cold"]]
    bad, logs = {}, []
    for out in ("out_cold", "out"):
        chk = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), str(data),
                              str(work / out), *names],
                             capture_output=True, text=True, timeout=120, cwd=work)
        ok = set(re.findall(r"^ok\s+(\S+)", chk.stdout, re.M))
        bad[out] = [n for n in names if n not in ok]
        if bad[out]:
            logs.append(chk.stdout[-3000:] + chk.stderr[-2000:])
    warm = raw["warm"]
    per = {n: [p[i] for p in warm] for i, n in enumerate(names)}
    med = {n: stats.median([q["s"] for q in per[n]]) for n in names}
    cold = {q["name"]: q for q in raw["cold"]}
    warm_s = sum(med.values())
    cold_s = sum(q["s"] for q in raw["cold"])
    e2e = {
        "setup_s": raw["first_op_epoch"] - t_start,
        "latency_ms": warm_s * 1e3,
        # the first pass, so artifact builds and training are under a bound
        "throughput_per_s": len(names) / cold_s,
        "retained_heap_mb": raw["heap_mb"],
    }
    info = [("query_warm_s", warm_s, "s", f"sum of per-query medians over {len(warm)} warm passes"),
            ("query_cold_s", cold_s, "s", "first pass on an empty index root")]
    backed = [n for n in names if cold[n]["cache"].get("build") or cold[n]["cache"].get("train")]
    layer = {
        "session.create_s": raw["session_create_s"],
        "queries.df_build_s": sum(stats.median([q["build_s"] for q in per[n]]) for n in names),
        "queries.execute_s": sum(stats.median([q["execute_s"] for q in per[n]]) for n in names),
        "operators.index_cache.builds": sum(q["cache"].get("build", 0) for q in raw["cold"]),
        "operators.index_cache.trains": sum(q["cache"].get("train", 0) for q in raw["cold"]),
        "operators.index_cache.disk_hits": stats.ratio(
            sum(q["cache"].get("disk", 0) for p in warm for q in p), len(warm)),
        "operators.index_cache.mem_hits": stats.ratio(
            sum(q["cache"].get("mem", 0) for p in warm for q in p), len(warm)),
        "operators.index_cache.build_s": sum(cold[n]["s"] - med[n] for n in backed),
    }
    for n in names:
        layer[f"queries.{n}.s"] = med[n]
    if a.trace:
        traced = [p for i, p in enumerate(warm) if i % 2 == 1]
        k = len(traced)
        tasks = raw["engine"]["tasks"]
        tot = lambda key: sum(v.get(key, 0) for s, v in tasks.items()  # noqa: E731
                              if s.startswith("queries.")) / k
        for n in names:
            t = tasks.get(f"queries.{n}", {})
            layer[f"queries.{n}.task_s"] = t.get("run_ms", 0) / 1e3 / k
            layer[f"queries.{n}.jobs"] = t.get("jobs", 0) / k
        layer.update({
            "queries.plan_s": sum(sum(ph["phases_ms"].values()) for ph in raw["engine"]["phases"]
                                  if ph["scope"].startswith("queries.")) / 1e3 / k,
            "queries.jobs": tot("jobs"), "queries.stages": tot("stages"),
            "queries.tasks": tot("tasks"), "queries.task_s": tot("run_ms") / 1e3,
            "queries.cpu_s": tot("cpu_ns") / 1e9, "queries.gc_s": tot("gc_ms") / 1e3,
            "queries.shuffle_read_bytes": tot("shuffle_read_bytes"),
            "queries.shuffle_write_bytes": tot("shuffle_write_bytes"),
            "queries.spill_bytes": tot("spill_bytes"),
        })
        layer.update(span_layer([work]))
        layer.update(overhead([sum(q["s"] for q in p) * 1e3 for p in traced],
                              [sum(q["s"] for q in p) * 1e3
                               for i, p in enumerate(warm) if i % 2 == 0]))
        layer.update(host_layer(raw["host"]))
    check = {"queries": len(names), "cold_mismatches": bad["out_cold"],
             "warm_mismatches": bad["out"]}
    sys.stderr.write("".join(logs))
    # every timed query execution is an attempted operation; a result that
    # disagrees with its oracle fails its pass (the first pass), or every
    # warm pass (the last warm pass's result is the one checked).
    failed = len(bad["out_cold"]) + len(bad["out"]) * len(warm)
    return e2e, layer, len(names) * (1 + len(warm)), failed, info, check, raw["host"]


WORKLOADS = {"service_mixed": service_mixed, "restart_replay": restart_replay,
             "query_mix": query_mix}
SPAN_NAMES = ["session.create", "service.boot", "service.post", "service.check",
              "queries.query", "queries.df_build", "queries.execute"]


# ----------------------------------------------------------------- main

def metric_names(kind):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec[kind]]


def render(name, v, unit):
    """One `name value unit` line; a ratio also shows num/base."""
    if isinstance(v, dict):
        return f"{name} {v['value']} {unit} ({v['num']}/{v['base']})"
    return f"{name} {v} {unit}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    t_start = time.time()
    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        e2e, layer, attempted, failed, info, check, host = WORKLOADS[a.workload](cp, a, work, t_start)
    finally:
        for p in PROCS:
            if p.poll() is None:
                p.kill()
                p.wait()
        shutil.rmtree(work, ignore_errors=True)
    print(f"# {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} check={check}")
    for name, v, unit, note in info:
        shown = "n/a" if v is None else f"{v:.4f}"
        print(f"{name} {shown} {unit} ({note})")
    print(f"error_ratio {failed}/{attempted} ratio")
    if host:
        print("host " + " ".join(f"{k}={v:.4f}" for k, v in sorted(host.items())))
    kind = "per_layer" if a.trace else "end_to_end"
    got = layer if a.trace else e2e
    metrics = {}
    for name, unit in metric_names(kind):
        v = got.get(name, 0)
        print(render(name, v, unit))
        if isinstance(v, dict):
            v = v["value"]
        metrics[name] = {"value": 0 if v is None else v, "unit": unit}
    correct = failed == 0 and all(m["value"] > 0 for n, m in metrics.items()
                                  if kind == "end_to_end")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()

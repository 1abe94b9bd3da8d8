#!/usr/bin/env python3
"""graft's benchmark: one seeded, closed-loop workload per run.

Usage:
  python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: analyst_mix, incremental_merge (see README.md).
Builds the program from source on first use (graftbench/build.py), generates
the seed's input tables with tools/gen_sf.py (cached per seed), runs the
workload in one JVM (graftbench/scala/Main.scala), checks every output, and
prints as its last line one JSON object: correct, attempted, failed and the
metrics -- the end-to-end ones untraced, the per-layer ones with --trace 1.
Exits non-zero without a result when it cannot build or run.
"""
import argparse
import contextlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("analyst_mix", "incremental_merge")
SCALE = 0.01
JVM_TIMEOUT_S = 150
HEAP = "2g"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
# What spark-submit would pass to a JDK 17 application (JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def load_tool(name):
    path = os.path.join(ROOT, "tools", f"{name}.py")
    if not os.path.exists(path):
        raise BenchError(f"{path} is missing")
    spec = importlib.util.spec_from_file_location(f"graft_tools_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def inputs(seed):
    """The seed's tables, generated by tools/gen_sf.py with its SEED set to
    the benchmark seed, or reused from the cache. Returns (dir, seconds)."""
    t0 = time.perf_counter()
    out = os.path.join(build.build_dir(), "data", f"sf{SCALE}-seed{seed}")
    if not os.path.isdir(out):
        gen = load_tool("gen_sf")
        gen.SEED = seed
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.redirect_stdout(sys.stderr):
            gen.main(SCALE, tmp)
        os.rename(tmp, out)
    return out, time.perf_counter() - t0


def run_jvm(cp, workload, seed, seconds, trace, data, work):
    result = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"] + ADD_OPENS +
           ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--cpus",
            str(len(os.sched_getaffinity(0))), "--data", data, "--work", work,
            "--out", result])
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        try:
            r = subprocess.run(cmd, stdout=jlog, stderr=jlog, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"the JVM ran past {JVM_TIMEOUT_S} s (log: {jlog.name})")
    if r.returncode != 0 or not os.path.exists(result):
        raise BenchError(f"the JVM exited with {r.returncode} (log: {jlog.name})")
    with open(result) as fh:
        return json.load(fh)


def check_registry(res, data, work):
    """Setup-pass outputs of oracle-backed ops against DuckDB 1.0.0 over the
    same parquet with tools/check.py's normalization; rows-only ops must be
    non-empty. Returns the names whose setup output is not right."""
    expected = os.path.join(work, "expected")
    with open(os.path.join(expected, "oracle_sql.json"), "w") as fh:
        json.dump(res["oracle_sql"], fh)
    verdicts = os.path.join(work, "oracle.json")
    check = load_tool("check")
    with contextlib.redirect_stdout(io.StringIO()) as out:
        check.main(data, expected, json_out=verdicts)
    with open(verdicts) as fh:
        bad = {n for n, v in json.load(fh).items() if not v["hash_match"]}
    for line in out.getvalue().splitlines():
        if line.startswith("FAIL"):
            log(line)
    bad |= {o["name"] for o in res["ops"] if o["pass"] == 0
            and o["name"] not in res["oracle_sql"] and not o["rows"]}
    return bad


def check_incremental(res, data):
    """Every upsert's table counts against DuckDB: the oracle rows of each
    warehouse table whose slice key falls in the slices applied so far,
    distinct on the table's upsert keys. Every ingest must keep at least one
    document; the JVM checks the corpus after each pass. Returns the names
    (unique per pass) that are not right."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet')")
    mult, salt, n = res["mult"], res["salt"], res["parts"]
    bad = set()
    for o in res["ops"]:
        if o["error"] is not None:
            continue
        if o["name"].startswith("ingest_") and not o["rows"]:
            bad.add(o["name"])
        if not o["name"].startswith("upsert_"):
            continue
        applied = res["slice_order"][:o["pass"] + 1]
        want = {}
        for table, spec in res["slice_tables"].items():
            keys = ", ".join(f'"{k}"' for k in spec["keys"])
            k0 = f'"{spec["keys"][0]}"'
            kind = con.execute(f"DESCRIBE SELECT {k0} FROM ({spec['sql']}) o").fetchone()[1]
            if kind == "VARCHAR":
                k0 = f"ascii({k0})"
            part = f"((CAST({k0} AS BIGINT) * {mult} + {salt}) % {n} + {n}) % {n}"
            want[table] = con.execute(
                f"SELECT count(*) FROM (SELECT DISTINCT {keys} FROM ({spec['sql']}) o "
                f"WHERE {part} IN ({', '.join(map(str, applied))}))").fetchone()[0]
        got = {k: int(v) for k, v in o["manifest"].items()}
        if got != want:
            log(f"FAIL {o['name']}: tables {got} but the oracle says {want}")
            bad.add(o["name"])
    return bad


def summarize(res, inputs_s, trace, bad_names):
    measured_passes = {p["pass"] for p in res["passes"]}
    measured = [o for o in res["ops"] if o["pass"] in measured_passes]
    # What a measured op must reproduce: its setup-pass output, which the
    # checks verified. Incremental ops never repeat (each pass takes a new
    # batch and slice), so each is verified directly and is its own reference.
    reference = res["ops"] if "parts" in res else [o for o in res["ops"] if o["pass"] == 0]
    setup = {o["name"]: (o["rows"], o["hash"]) for o in reference if o["error"] is None}
    bad_names |= {o["name"] for o in res["ops"] if o["pass"] == 0 and o["error"]}
    # state carries over between passes, so a failed state check fails its
    # pass and every pass after it
    first_bad = min((int(p.split(":")[0].split()[1]) for p in res["problems"]),
                    default=None)
    bad_passes = {o["pass"] for o in measured
                  if first_bad is not None and o["pass"] >= first_bad}
    for p in res["problems"]:
        log(f"FAIL {p}")
    failed = metrics.count_failures(measured, setup, bad_names, bad_passes)
    warm = [o for o in res["ops"] if o["pass"] > 0 and o["pass"] not in measured_passes]
    correct = (failed == 0 and not bad_names and not res["problems"]
               and metrics.count_failures(warm, setup, set(), set()) == 0)
    passes = res["passes"]
    setup_s = inputs_s + statistics.median(res["session_s"]) + res["warmup_s"]
    if trace:
        values = {k: res["layers"].get(k, 0.0) for k in metrics.PER_LAYER}
        untraced = [p["seconds"] for p in passes if not p["traced"]]
        traced = [p["seconds"] for p in passes if p["traced"]]
        values["trace.overhead_frac"] = (statistics.median(traced) /
                                         statistics.median(untraced) - 1.0)
        extra = sorted(set(res["layers"]) - set(metrics.PER_LAYER))
        if extra:
            print(f"undeclared layer keys: {extra}")
        shown = metrics.render(values, metrics.PER_LAYER)
    else:
        values, info = metrics.end_to_end([p["seconds"] for p in passes],
                                          [o["seconds"] for o in measured],
                                          setup_s, len(measured), failed)
        print(f"op_tail_s is p{info['tail_pct']:g} of {info['samples']} op samples "
              f"({info['tail_beyond']} beyond it); failed_frac = "
              f"{failed}/{len(measured)}; passes = {len(passes)}; setup_s = inputs "
              f"{inputs_s:.3f} + session {statistics.median(res['session_s']):.3f} "
              f"(median of {len(res['session_s'])}) + setup and warm pass "
              f"{res['warmup_s']:.3f}")
        shown = metrics.render(values, {k: u for k, (u, _) in metrics.END_TO_END.items()})
    print("non-default SQL conf: " + json.dumps(res["conf"], sort_keys=True))
    return {"correct": correct, "attempted": len(measured), "failed": failed,
            "metrics": shown}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t0 = time.perf_counter()
    try:
        cp = build.build()
        data, inputs_s = inputs(a.seed)
        work = os.path.join(build.build_dir(), "runs",
                            f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        t1 = time.perf_counter()
        res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, data, work)
        t2 = time.perf_counter()
        bad = (check_incremental(res, data) if a.workload == "incremental_merge"
               else check_registry(res, data, work))
        log(f"build+inputs {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, "
            f"output checks {time.perf_counter() - t2:.1f} s")
        line = summarize(res, inputs_s, a.trace, bad)
        logs = os.path.join(build.build_dir(), "logs")
        os.makedirs(logs, exist_ok=True)
        stem = os.path.join(logs, f"{a.workload}-s{a.seed}-t{a.trace}")
        shutil.copy(os.path.join(work, "jvm.log"), stem + ".log")
        with open(stem + "-samples.json", "w") as fh:
            json.dump({k: res[k] for k in ("session_s", "warmup_s", "passes", "ops")}, fh)
        if a.trace:
            with open(stem + "-spans.json", "w") as fh:
                json.dump(res["spans"], fh)
        shutil.rmtree(work, ignore_errors=True)
    except (BenchError, build.BuildError) as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

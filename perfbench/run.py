#!/usr/bin/env python3
"""clickhubspark benchmark: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 24 --trace 0

Workloads (see BENCHMARK.json for why each exists):
  query_suite   closed loop, one client, over a fixed query mix on a seeded
                star schema; every result is collected and checked against
                DuckDB running the query's oracle SQL on the same tables.
  repo_refresh  base import, then an open loop of new-repo requests (HTTP)
                and upstream advances, with one analyst reading the live
                fact tables.

The first run in a checkout builds the program and the benchmark with sbt
into `.bench_build/`. `--trace 0` prints the end-to-end metrics, `--trace 1`
the per-layer metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Every run also leaves a full
result file under `.bench_build/results/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
sys.path.insert(0, HERE)

import gen  # noqa: E402
import verify  # noqa: E402

# ---------------------------------------------------------------- settings
# Star-schema scale of query_suite: 0.1 is ~6k lineitems (the size of the
# repository's sf0.001 test data). Per-query cost at this size is fixed cost:
# planning, job launch and metadata I/O.
STAR_SCALE = 0.1
# The query mix: one query from each of the 12 query families. The whole
# registry (239 queries) takes minutes per pass on 4 cores, far longer than
# one run may take.
QUERY_MIX = [
    "q1_agg",                # RefOps
    "win_rank",              # Analytics
    "agg_quantiles_multi",   # ChAggs
    "join_asof",             # TemporalJoins
    "dedup_exact",           # Dedup
    "text_tokens",           # TextAnalysis
    "ann_cosine_topk",       # Similarity
    "mm_meta",               # Multimodal
    "gh_stars_rollup",       # GhEventsOps
    "cat_partitioned_scan",  # CatalogOps
    "dict_get",              # Dictionaries
    "fn_encoding",           # FuncDepth
]
# repo_refresh: base set, arrival rate and mix, advance size.
REFRESH_BASE_SIZES = [(30, 0), (12, 0), (60, 25), (20, 0)]
# A warm import costs ~2.6 s here, so two workers are about half busy at
# 0.4/s. Near saturation a slower import would grow the backlog and
# multiply freshness; at half load freshness follows the import's own cost.
REFRESH_RATE = 0.4          # arrivals per second
REFRESH_NEW_FRAC = 0.3      # share of arrivals that are new repos (fixed per run)
REFRESH_NEW_SIZE = 10       # commits in a new repo
REFRESH_ADVANCE = (1, 4)    # commits per upstream advance, inclusive
REFRESH_DRAIN_S = 40        # time the workers get after the last arrival
LAG_BOUND_MS = 250          # a run whose generator p90 lag exceeds this is invalid
# A run during which the hypervisor took more than this share of the
# machine's CPU time for other guests (steal time) is invalid: at 15 %
# steal latencies here are about twice their quiet values.
STEAL_BOUND = 0.15
ANALYST_SQL = [
    "SELECT repo_name, count() AS commits, sum(lines_added) AS added FROM commits "
    "GROUP BY repo_name ORDER BY commits DESC, repo_name LIMIT 10",
    "SELECT author, uniqExact(repo_name) AS repos, sum(lines_added - lines_deleted) AS net "
    "FROM commits GROUP BY author ORDER BY net DESC, author",
    "SELECT file_extension, countIf(change_type = 'Rename') AS renames, count() AS changes "
    "FROM file_changes GROUP BY file_extension ORDER BY changes DESC, file_extension",
    "SELECT line_type, count() AS lines, round(avg(indent), 3) AS indent FROM line_changes "
    "WHERE sign = 1 GROUP BY line_type ORDER BY lines DESC, line_type",
    "SELECT toStartOfDay(time) AS day, count() AS commits FROM commits "
    "GROUP BY day ORDER BY day DESC LIMIT 7",
]
JVM_TIMEOUT_S = 160

# ---------------------------------------------------------------- build


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classes match the current sources."""
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx3g")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0:
        sys.exit(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def add_opens():
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return [x for p in pkgs for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


# ---------------------------------------------------------------- inputs


def repo_name(seed, i):
    return f"bench{seed}/repo-{i:03d}"


def refresh_inputs(work, seed, seconds):
    rng = gen.np.random.default_rng(seed)
    upstream = os.path.join(work, "upstream")
    base, states = [], {}
    for i, (n, merge_every) in enumerate(REFRESH_BASE_SIZES):
        name = repo_name(seed, i)
        states[name] = gen.make_repo(os.path.join(upstream, name), seed * 1000 + i, n, merge_every)
        base.append(name)
    heads = {r: gen.head_hash(os.path.join(upstream, r)) for r in base}
    n_arr = max(1, int(round(REFRESH_RATE * seconds)))
    n_new_total = int(round(REFRESH_NEW_FRAC * n_arr))
    kinds = rng.permutation(["new"] * n_new_total + ["advance"] * (n_arr - n_new_total))
    arrivals, n_new, last_adv = [], 0, {}
    for k, kind in enumerate(kinds):
        # evenly spaced due times with a seeded jitter of a quarter period
        due = (k + 0.5 + rng.uniform(-0.25, 0.25)) / REFRESH_RATE
        if kind == "new":
            name = repo_name(seed, 100 + n_new)
            n_new += 1
            gen.make_repo(os.path.join(upstream, name), seed * 1000 + 100 + n_new, REFRESH_NEW_SIZE)
            arrivals.append({"due_s": due, "kind": "new", "repo": name})
        else:
            # advance the base repo that has waited longest since its last advance
            name = min(base, key=lambda r: (last_adv.get(r, -1.0), r))
            last_adv[name] = due
            path = os.path.join(upstream, name)
            gen.advance_repo(path, states[name], int(rng.integers(REFRESH_ADVANCE[0], REFRESH_ADVANCE[1] + 1)))
            arrivals.append({"due_s": due, "kind": "advance", "repo": name, "sha": gen.head_hash(path)})
    # upstream starts at the base heads; each advance moves it at its due time
    for r, h in heads.items():
        gen.git(os.path.join(upstream, r), "update-ref", "refs/heads/main", h)
    sf = os.path.join(work, "sf")
    gen.star_schema(sf, seed, 0.01)
    return {"upstream": upstream, "base": base, "arrivals": arrivals, "analyst_sql": ANALYST_SQL,
            "sf_dir": sf, "lag_bound_ms": LAG_BOUND_MS, "drain_s": REFRESH_DRAIN_S}


def query_inputs(work, seed):
    sf = os.path.join(work, "sf")
    gen.star_schema(sf, seed, STAR_SCALE)
    return {"sf_dir": sf, "queries": QUERY_MIX, "verify": os.path.join(work, "results")}


# ---------------------------------------------------------------- metrics

E2E = {"setup_s": "s", "op_ms": "ms", "op_p75_ms": "ms", "reads_per_s": "1/s"}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["query_suite", "repo_refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the program's sources (src/main/scala) are not in this checkout")
    if shutil.which("git") is None or not os.path.isdir(SPARK_JARS):
        sys.exit("perfbench: needs git and the Spark jars")

    build()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work):
    g0 = time.perf_counter()
    if args.workload == "query_suite":
        plan = query_inputs(work, args.seed)
    else:
        plan = refresh_inputs(work, args.seed, args.seconds)
    selftest = gen.selftest(os.path.join(work, "selftest"), args.seed) \
        if args.workload != "query_suite" else None
    gen_setup_s = time.perf_counter() - g0
    plan.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                trace=args.trace, work=work)
    plan_path, out_path = os.path.join(work, "plan.json"), os.path.join(work, "result.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    cmd = ["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work}", *add_opens(),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main", "--plan", plan_path, "--out", out_path]
    cpu0 = host_cpu()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(out_path):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        sys.exit(f"perfbench: the benchmark JVM failed ({code}):\n{tail}")
    with open(out_path) as f:
        res = json.load(f)
    cpu1 = host_cpu()
    steal_frac = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)

    # -------- output checks
    if args.workload == "query_suite":
        problems, bad_ops = verify.queries(res, plan)
    else:
        problems, bad_ops = verify.repos(res, plan, work)
    if selftest:
        problems += selftest
    if steal_frac > STEAL_BOUND:
        problems.append(f"run invalid: host steal time {steal_frac:.3f} of CPU time, "
                        f"over the {STEAL_BOUND} bound")
    ops = res["ops"]
    # an op is wrong when it failed, or when its query or its repo (the
    # name after "kind:") failed an output check
    bad = [o for o in ops if not o["ok"] or o["name"] in bad_ops or o["name"].partition(":")[2] in bad_ops]
    failed_names = sorted({o["name"] for o in bad} | set(bad_ops))
    attempted = len(ops)
    failed = len(bad)

    if args.trace:
        metrics = dict(res["layers"])
        metrics["gen.setup_s"] = gen_setup_s
        metrics["gen.lag_p90_ms"] = res["extra"].get("gen_lag_p90_ms") or 0.0
        if metrics.get("trace.overhead_frac") is None:
            problems.append("trace: no query or read ran both traced and untraced")
        units = layer_units()
        metrics = {k: {"value": metrics.get(k) or 0.0, "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E.items()}

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "commit": commit_id(), "source_stamp": source_stamp(), "nproc": os.cpu_count(),
        "gen_setup_s": gen_setup_s, "host_steal_frac": steal_frac,
        "problems": problems, "failed_ops": failed_names, "metrics": metrics, "jvm": res,
    }
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{int(time.time() * 1000)}-{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    for k, m in metrics.items():
        print(f"{k:40s} {m['value']:14.4f} {m['unit']}")
    for p in problems[:20]:
        print(f"CHECK FAILED: {p}")
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))


def host_cpu():
    """(all jiffies, steal jiffies) of the host's CPUs so far. Steal is time
    the hypervisor gave this machine's CPUs to others: a run with much of
    it ran on a slower machine."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def commit_id():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


if __name__ == "__main__":
    main()

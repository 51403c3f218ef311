"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical tables and git repositories with identical HEAD hashes.

* `star_schema` writes the ten Parquet tables the query suite reads
  (the schema of the repository's TPC-H-like test data, TESTDATA.md).
* `make_repo` / `advance_repo` build git repositories with `git fast-import`
  using fixed identities and timestamps, so commit hashes depend on the
  seed alone.
"""
import os
import subprocess

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("key agg row scan slow fast table value part hash the a batch window "
         "spark order data column join small line customer query filter "
         "index merge sort group limit").split()
LANGS = ["en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["small", "red", "blue", "green", "large", "steel", "brass"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "panel"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _ts(days_from, base):
    return (np.datetime64(base, "s") + days_from).astype("datetime64[us]")


def star_schema(out_dir, seed, scale):
    """Write the ten star-schema tables at `scale` (1.0 = 60k lineitems)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), max(int(100 * scale), 10), int(2000 * scale)
    n_ord, n_li = int(15000 * scale), int(60000 * scale)
    n_ev, n_doc, n_emb = int(10000 * scale), max(int(500 * scale), 50), max(int(500 * scale), 50)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999, 9999, n_supp)})
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(PART_ADJ), n_part),
                       rng.integers(0, len(PART_NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    order_days = rng.integers(0, 365 * 7, n_ord)
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts(order_days * 86400, "1995-01-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})
    li_order = rng.integers(0, n_ord, n_li)
    write("lineitem", {
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _ts((order_days[li_order] + rng.integers(1, 122, n_li)) * 86400,
                          "1995-01-01")})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": money(0, 100, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(20, 80)))) for _ in range(n_doc)]
    write("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=[0.5, 0.15, 0.1, 0.15, 0.1]).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 18, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


# ---------------------------------------------------------------- git repos

AUTHORS = [("Ada Lovelace", "ada@example.com"), ("Alan Turing", "alan@example.com"),
           ("Grace Hopper", "grace@example.com"), ("Edsger Dijkstra", "ewd@example.com")]
EXTS = ["py", "scala", "md", "c", "txt"]
T0 = 1_600_000_000  # first commit time of every repo; later commits step forward


class RepoModel:
    """The in-memory tree a repo's fast-import stream is derived from."""

    def __init__(self, rng):
        self.rng = rng
        self.files = {}  # path -> list of lines
        self.n_paths = 0

    def new_path(self):
        self.n_paths += 1
        return f"src/m{self.n_paths % 7}/f{self.n_paths}.{self.rng.choice(EXTS)}"

    def line(self):
        r = self.rng
        kind = r.integers(0, 10)
        if kind == 0:
            return ""
        if kind == 1:
            return "# " + " ".join(r.choice(WORDS, 3))
        if kind == 2:
            return "}"
        return "    " * int(r.integers(0, 3)) + " ".join(r.choice(WORDS, int(r.integers(2, 7))))


def _data(s):
    b = s.encode()
    return b"data %d\n" % len(b) + b + b"\n"


def _commit_stream(model, ref, mark, t, parents, msg, full_tree=False):
    """One commit that edits a few files of `model`; returns its stream bytes.

    `parents` holds marks (ints) or commit hashes (str). With `full_tree` the
    commit re-states the whole tree, which a merge needs: fast-import starts
    a commit from its first parent's tree only.
    """
    r = model.rng
    name, email = AUTHORS[int(r.integers(0, len(AUTHORS)))]
    out = [b"commit %s\n" % ref.encode(), b"mark :%d\n" % mark,
           b"author %s <%s> %d +0000\n" % (name.encode(), email.encode(), t),
           b"committer %s <%s> %d +0000\n" % (name.encode(), email.encode(), t),
           _data(msg)]
    for i, p in enumerate(parents):
        ref_of = (b":%d" % p) if isinstance(p, int) else p.encode()
        out.append((b"from " if i == 0 else b"merge ") + ref_of + b"\n")
    touched, removed = set(), []
    for _ in range(int(r.integers(1, 4))):
        old = sorted(set(model.files) - touched)
        roll = r.integers(0, 20)
        if not old or roll < 4:
            p = model.new_path()
            model.files[p] = [model.line() for _ in range(int(r.integers(3, 25)))]
            touched.add(p)
        elif roll == 4 and len(old) > 2:
            p = old[int(r.integers(0, len(old)))]
            del model.files[p]
            removed.append(b"D %s\n" % p.encode())
            touched.add(p)
        elif roll == 5:
            p, new = old[int(r.integers(0, len(old)))], model.new_path()
            model.files[new] = model.files.pop(p)
            removed.append(b"R %s %s\n" % (p.encode(), new.encode()))
            touched.update((p, new))
        else:
            p = old[int(r.integers(0, len(old)))]
            lines = model.files[p]
            for _ in range(int(r.integers(1, 4))):
                i = int(r.integers(0, len(lines) + 1))
                if r.integers(0, 3) == 0 and lines:
                    del lines[min(i, len(lines) - 1)]
                else:
                    lines.insert(i, model.line())
            touched.add(p)
    if full_tree:
        out.append(b"deleteall\n")
        touched = set(model.files)
    else:
        out.extend(removed)
    for p in sorted(x for x in touched if x in model.files):
        out.append(b"M 100644 inline %s\n" % p.encode())
        out.append(_data("\n".join(model.files[p]) + "\n"))
    return b"".join(out)


def _fast_import(repo_dir, stream):
    subprocess.run(["git", "fast-import", "--quiet"], cwd=repo_dir, input=stream,
                   check=True, stdout=subprocess.DEVNULL)


def git(repo_dir, *args):
    return subprocess.run(["git", *args], cwd=repo_dir, check=True,
                          capture_output=True, text=True).stdout.strip()


def make_repo(repo_dir, seed, n_commits, merge_every=0):
    """Create a non-bare repo with `n_commits` commits reachable from `main`.

    Commits are one minute apart from T0. With `merge_every` > 0, every
    that-many commits a two-commit side branch is merged back, so the
    history has merges. Returns the state `advance_repo` continues from.
    """
    os.makedirs(repo_dir, exist_ok=True)
    git(repo_dir, "init", "-q", "-b", "main")
    model = RepoModel(np.random.default_rng(seed))
    stream, mark, head, t = [], 0, None, T0

    def commit(ref, parents, msg, full_tree=False):
        nonlocal mark, t
        mark += 1
        t += 60
        stream.append(_commit_stream(model, ref, mark, t, parents, msg, full_tree))
        return mark

    while mark < n_commits:
        if merge_every and head and mark % merge_every == 0 and n_commits - mark >= 3:
            side = commit("refs/heads/side", [head], "side work")
            side = commit("refs/heads/side", [side], "side work")
            head = commit("refs/heads/main", [head, side], "Merge side", full_tree=True)
        else:
            head = commit("refs/heads/main", [head] if head else [], f"change {mark + 1}")
    _fast_import(repo_dir, b"".join(stream))
    git(repo_dir, "checkout", "-q", "-f", "main")
    return {"t": t, "model": model, "n": mark}


def advance_repo(repo_dir, state, n_commits):
    """Append `n_commits` commits on top of `main`, later than any before."""
    parent = git(repo_dir, "rev-parse", "HEAD")
    stream = []
    for i in range(1, n_commits + 1):
        state["t"] += 60
        state["n"] += 1
        stream.append(_commit_stream(state["model"], "refs/heads/main", i, state["t"],
                                     [parent], f"change {state['n']}"))
        parent = i
    _fast_import(repo_dir, b"".join(stream))
    git(repo_dir, "checkout", "-q", "-f", "main")


def git_counts(repo_dir):
    """Row counts the importer must land, from git's own view of the repo."""
    commits = int(git(repo_dir, "rev-list", "--count", "HEAD"))
    numstat = git(repo_dir, "log", "--numstat", "-M", "-C", "--diff-merges=first-parent",
                   "--pretty=format:")
    files = lines = 0
    for row in numstat.splitlines():
        parts = row.split("\t")
        if len(parts) == 3:
            files += 1
            if parts[0] != "-":
                lines += int(parts[0]) + int(parts[1])
    return {"commits": commits, "file_changes": files, "line_changes": lines}


def head_hash(repo_dir):
    return git(repo_dir, "rev-parse", "HEAD")


def selftest(work, seed):
    """The generator is a function of the seed: the same seed must give the
    same HEAD hash and a different seed a different one. Returns problems."""
    heads = []
    for name, s in (("a", seed), ("b", seed), ("c", seed + 1)):
        make_repo(os.path.join(work, name), s, 12, merge_every=5)
        heads.append(head_hash(os.path.join(work, name)))
    problems = []
    if heads[0] != heads[1]:
        problems.append(f"generator: seed {seed} gave two HEADs {heads[0]} and {heads[1]}")
    if heads[0] == heads[2]:
        problems.append(f"generator: seeds {seed} and {seed + 1} gave the same HEAD {heads[0]}")
    return problems

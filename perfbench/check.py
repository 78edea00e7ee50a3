"""Output checks. Each returns the set of failed op keys, so a mismatch
counts against exactly the ops that produced it."""

import glob
import json
import math
import os

import duckdb

def _num(text):
    return math.nan if text == "NaN" else float(text)


def _same(a, b):
    return a == b or (isinstance(a, float) and isinstance(b, float)
                      and math.isnan(a) and math.isnan(b))


def golden_lines(exp):
    """Expected (prefix, number-or-None) lines of one ego's two files."""
    denom, num = exp["denom"], exp["num"]
    pct = num / denom * 100 if denom else math.nan
    proofs = [
        ("Proof 1 (czhao13-01): ", None),
        ("People having same hometown and same university: ", float(denom)),
        ("People having same hometown and same university and who are connected: ", float(num)),
        ("Percentage of the latter: ", pct),
        (f"Hypothesis 1 {'proved' if pct > 50 else 'disproved'} for this ego network.", None),
    ]
    metrics = [("Metrics: ", None), ("Node count: ", float(exp["nodes"])),
               ("Edge count: ", float(exp["edges"]))]
    for name, deg, eff in exp["friends"]:
        metrics.append((f"Clustering coefficient for {name}: ", (eff + deg) / ((deg + 1) * deg / 2.0)))
    for name, deg, eff in exp["friends"]:
        metrics.append((f"Centrality value for {name}: ", float(2 * (deg * (deg - 1) // 2 - eff))))
    return {"proofs": proofs, "metrics": metrics}


def _matches(text, expected):
    if not text.endswith("\n"):
        return False
    lines = text[:-1].split("\n")
    if len(lines) != len(expected):
        return False
    for line, (prefix, value) in zip(lines, expected):
        if value is None:
            if line != prefix:
                return False
        elif not line.startswith(prefix):
            return False
        else:
            try:
                if not _same(_num(line[len(prefix):]), value):
                    return False
            except ValueError:
                return False
    return True


def check_golden(out_root, passes, expected):
    """Every number of the 20 files equals the generator's value, and every
    op's files are byte-identical to the first op's."""
    failed, first = set(), None
    want = {ego: golden_lines(e) for ego, e in expected.items()}
    for p in passes:
        d = os.path.join(out_root, f"p{p}")
        files = {}
        for ego in want:
            for kind in ("proofs", "metrics"):
                path = os.path.join(d, f"{ego}.{kind}")
                files[path[len(d):]] = open(path, "rb").read() if os.path.exists(path) else None
        ok = all(b is not None for b in files.values())
        if ok and first is None:
            ok = all(_matches(files[f"/{ego}.{k}"].decode(), want[ego][k])
                     for ego in want for k in ("proofs", "metrics"))
            if ok:
                first = files
        elif ok:
            ok = files == first
        if not ok:
            failed.add(p)
    return failed


def stale_loads(res):
    """Traced passes whose load ran no Spark job: the op did not re-ingest
    (a warm `(session, dir)` memo hit would do that)."""
    spans = {s["id"]: s for s in res["spans"]}
    passes = [s for s in res["spans"] if s["name"] == "pass"]
    traced = {s["id"]: i for i, (s, p) in enumerate(zip(passes, res["passes"])) if p["traced"]}
    jobs = {i: 0 for i in traced.values()}
    for s in res["spans"]:
        if s["name"] == "snap.load" and s["parent"] in spans and spans[s["parent"]]["parent"] in traced:
            jobs[traced[spans[s["parent"]]["parent"]]] += s["jobs"]
    return {i for i, n in jobs.items() if n == 0}


def check_hub(out_root, passes, expected):
    """deg/eff, centrality, the k-core set and component stats equal the
    generator's values; fixed-point PageRank is bit-equal across ops."""
    failed, first_pr = set(), None
    de = {k: tuple(v) for k, v in expected["deg_eff"].items()}
    cent = {k: 2 * (d * (d - 1) // 2 - e) for k, (d, e) in de.items()}
    kcore = sorted(expected["kcore"])
    comps = tuple(expected["components"])
    for p in passes:
        got = {"de": {}, "cent": {}, "kcore": [], "cc": [], "pr": []}
        path = os.path.join(out_root, f"p{p}.tsv")
        lines = open(path).read().split("\n") if os.path.exists(path) else []
        for line in lines:
            f = line.split("\t")
            if f[0] == "de":
                got["de"][f[1]] = (int(f[2]), int(f[3]))
            elif f[0] == "cent":
                got["cent"][f[1]] = int(f[2])
            elif f[0] == "kcore":
                got["kcore"].append(f[1])
            elif f[0] == "cc":
                got["cc"].append((int(f[1]), int(f[2])))
            elif f[0] == "pr":
                got["pr"].append(line)
        pr = sorted(got["pr"])
        ok = (got["de"] == de and got["cent"] == cent
              and sorted(got["kcore"]) == kcore and got["cc"] == [comps]
              and len(pr) > 0 and (first_pr is None or pr == first_pr))
        if ok and first_pr is None:
            first_pr = pr
        if not ok:
            failed.add(p)
    return failed


def check_queries(out_root, data_dir, digests):
    """Each query's rows equal the DuckDB oracle on the same tables (value
    compare over name-sorted columns, the repo's gate); every op's digest
    equals the first's."""
    con = duckdb.connect()
    for path in glob.glob(os.path.join(data_dir, "*.parquet")):
        table = os.path.basename(path)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    oracle = json.load(open(os.path.join(out_root, "oracle_sql.json")))
    bad_queries, report = set(), {}
    names = sorted({d["name"] for d in digests})
    for name in names:
        src = f"read_parquet('{out_root}/{name}/*.parquet')"
        try:
            cols = sorted(con.sql(f"SELECT * FROM {src}").columns)
            got = con.execute(f"SELECT {', '.join(cols)} FROM {src}").fetchall()
            sql = oracle[name]
            dcols = sorted(con.sql(sql).columns)
            want = con.execute(f"SELECT {', '.join(dcols)} FROM ({sql})").fetchall()
            ok = cols == dcols and len(got) == len(want) and all(
                _same(x, y) for a, b in zip(got, want) for x, y in zip(a, b))
            report[name] = "oracle" if ok else "ORACLE MISMATCH"
        except Exception as e:  # no oracle or an unreadable dump fails the query
            ok = False
            report[name] = f"ERROR {e}"
        if not ok:
            bad_queries.add(name)
    failed, ref = set(), {}
    for d in digests:
        key = (d["pass"], d["name"])
        ref.setdefault(d["name"], (d["rows"], d["digest"]))
        if d["name"] in bad_queries or ref[d["name"]] != (d["rows"], d["digest"]):
            failed.add(key)
    return failed, report


def check_streams(results, expected):
    """out_rows equal the batch semantics; state_rows_max repeats across
    passes. Returns failed (pass, stream) keys."""
    failed, state = set(), {}
    for r in results:
        state.setdefault(r["name"], r["state_rows_max"])
        if r["out_rows"] != expected[r["name"]] or r["state_rows_max"] != state[r["name"]]:
            failed.add((r["pass"], r["name"]))
    return failed

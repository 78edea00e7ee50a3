"""Self-tests of the benchmark's own parts (no JVM needed):

    python3 perfbench/test_perfbench.py
"""

import glob
import json
import math
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# Scratch space inside the checkout, like the benchmark's own runs.
SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench", "selftest")

import check  # noqa: E402
import gen_snap  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402


def read(path, mode="r"):
    with open(path, mode) as f:
        return f.read()


def write(path, text, mode="w"):
    with open(path, mode) as f:
        f.write(text)


def files_of(d):
    return {os.path.basename(f): read(f, "rb") for f in sorted(glob.glob(os.path.join(d, "*")))}


def scratch():
    os.makedirs(SCRATCH, exist_ok=True)
    return tempfile.mkdtemp(dir=SCRATCH)


def js(x):
    """Number text as the program prints it (any exact round-trip form
    parses back to the same double)."""
    if isinstance(x, float) and math.isnan(x):
        return "NaN"
    return str(int(x)) if x == int(x) else repr(x)


def render(expected, out_dir):
    """The files a correct program writes for `expected`."""
    os.makedirs(out_dir, exist_ok=True)
    for ego, e in expected.items():
        for kind, lines in check.golden_lines(e).items():
            text = "".join((p if v is None else p + js(v)) + "\n" for p, v in lines)
            write(os.path.join(out_dir, f"{ego}.{kind}"), text)


class Generator(unittest.TestCase):
    def setUp(self):
        self.dir = scratch()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_same_seed_same_bytes_other_seed_differs(self):
        for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
            gen_snap.write(gen_snap.ego_specs(seed), seed, os.path.join(self.dir, sub))
        a, b, c = (files_of(os.path.join(self.dir, x)) for x in "abc")
        self.assertEqual(len(a), 50)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(a.keys(), c.keys())

    def test_tables_same_seed_same_bytes(self):
        for seed, sub in ((3, "a"), (3, "b"), (4, "c")):
            gen_tables.write(seed, os.path.join(self.dir, sub), scale=0.1)
        a, b, c = (files_of(os.path.join(self.dir, x)) for x in "abc")
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_quirks_and_sizes(self):
        texts = gen_snap.write(gen_snap.ego_specs(1), 1, self.dir)
        exp = gen_snap.expected_golden(texts)
        for ego, lines, friends, _, _, _ in gen_snap.EGO_TABLE:
            self.assertEqual(texts[ego]["edges"].count("\n"), lines)
            self.assertEqual(len(exp[ego]["friends"]), friends)
            self.assertTrue(all(t.endswith("\n") for t in texts[ego].values()))
        self.assertEqual((exp["3980"]["denom"], exp["3980"]["num"]), (0, 0))
        self.assertTrue(all(exp[e]["denom"] > 0 for e in exp if e != "3980"))

    def test_hub_graph_is_hub_heavy(self):
        ego = max(gen_snap.graph_stats(e)["sum_deg2"] / len(e) for _, e, *_ in gen_snap.ego_specs(5))
        (_, edges, *_), = gen_snap.hub_spec(5)
        hub = gen_snap.graph_stats(edges)
        self.assertGreaterEqual(hub["sum_deg2"] / hub["edges"], 10 * ego)

    def test_kcore_and_components_in_plain_code(self):
        tri = {("1", "2"), ("2", "3"), ("1", "3"), ("3", "4"), ("5", "6")}
        self.assertEqual(gen_snap.kcore(tri, 2, 8), ["1", "2", "3"])
        self.assertEqual(gen_snap.components(tri), (2, 4))
        self.assertEqual(gen_snap.graph_stats(tri)["triangles"], 1)


class Checker(unittest.TestCase):
    def setUp(self):
        self.dir = scratch()
        self.texts = gen_snap.write(gen_snap.ego_specs(2), 2, os.path.join(self.dir, "in"))
        self.exp = gen_snap.expected_golden(self.texts)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_golden_accepts_right_and_rejects_planted_wrong_eff(self):
        out = os.path.join(self.dir, "out")
        render(self.exp, os.path.join(out, "p0"))
        render(self.exp, os.path.join(out, "p1"))
        self.assertEqual(check.check_golden(out, [0, 1], self.exp), set())
        wrong = json.loads(json.dumps(self.exp))
        wrong["107"]["friends"][5][2] += 1  # one planted wrong eff
        render(wrong, os.path.join(out, "p2"))
        self.assertEqual(check.check_golden(out, [0, 1, 2], self.exp), {2})

    def test_golden_rejects_ops_that_differ_from_the_first(self):
        out = os.path.join(self.dir, "out")
        render(self.exp, os.path.join(out, "p0"))
        render(self.exp, os.path.join(out, "p1"))
        path = os.path.join(out, "p1", "0.metrics")
        write(path, "\n", "a")
        self.assertEqual(check.check_golden(out, [0, 1], self.exp), {1})

    def test_hub_rejects_planted_wrong_deg(self):
        (spec,) = gen_snap.hub_spec(3)
        texts = gen_snap.write([spec], 3, os.path.join(self.dir, "hub"))
        exp = gen_snap.expected_hub(texts)
        rows = [f"de\t{v}\t{d}\t{e}" for v, (d, e) in exp["deg_eff"].items()]
        rows += [f"cent\t{v}\t{2 * (d * (d - 1) // 2 - e)}" for v, (d, e) in exp["deg_eff"].items()]
        rows += [f"kcore\t{v}" for v in exp["kcore"]]
        rows += ["cc\t%d\t%d" % tuple(exp["components"]), "pr\t1\t5"]
        out = os.path.join(self.dir, "hubout")
        os.makedirs(out)
        write(os.path.join(out, "p0.tsv"), "\n".join(rows) + "\n")
        rows[0] = rows[0].rsplit("\t", 2)[0] + "\t999\t0"
        write(os.path.join(out, "p1.tsv"), "\n".join(rows) + "\n")
        self.assertEqual(check.check_hub(out, [0, 1], exp), {1})

    def test_streams_reject_wrong_out_rows(self):
        exp = {"a": 5}
        res = [{"pass": 0, "name": "a", "out_rows": 5, "state_rows_max": 3},
               {"pass": 1, "name": "a", "out_rows": 4, "state_rows_max": 3},
               {"pass": 2, "name": "a", "out_rows": 5, "state_rows_max": 2}]
        self.assertEqual(check.check_streams(res, exp), {(1, "a"), (2, "a")})


class Metrics(unittest.TestCase):
    def test_p90_withheld_below_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile([float(i) for i in range(50)]))
        self.assertIsNone(metrics.tail_percentile([1.0, 2.0, 3.0]))
        xs = [float(i) for i in range(1, 111)]
        self.assertEqual(metrics.tail_percentile(xs), 99.0)
        self.assertEqual(sum(x > 99.0 for x in xs), 11)

    def test_names_are_unique(self):
        self.assertEqual(len(metrics.PER_LAYER), len(set(metrics.PER_LAYER)))

    def test_committed_traces_reingest_every_ego_golden_op(self):
        path = os.path.join(HERE, "traced", "ego_golden.json")
        if not os.path.exists(path):
            self.skipTest("no committed traced run")
        res = json.loads(read(path))["result"]
        spans = {s["id"]: s for s in res["spans"]}
        loads = [s for s in res["spans"] if s["name"] == "snap.load"
                 and spans[spans[s["parent"]]["parent"]]["name"] == "pass"]
        traced = [p["traced"] for p in res["passes"]]
        on = [s for s, t in zip(loads, traced) if t]
        self.assertTrue(on)
        self.assertTrue(all(s["jobs"] > 0 for s in on))


if __name__ == "__main__":
    unittest.main()

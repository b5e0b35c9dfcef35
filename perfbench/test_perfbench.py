"""The benchmark's own tests: generator determinism, the statistics, the
metric names, and that corrupted outputs fail their checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import re
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

SMALL = {
    "mapreduce": dict(gen.MAPREDUCE, mb=0.05, files=3, vocab=300),
    "dedup": dict(gen.DEDUP, docs=200, vocab=300),
    "lake": dict(gen.LAKE, cycles=3, batch=5, merge_batch=4, vocab=100),
}
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def tree_bytes(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class TempDirCase(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def generate(self, workload, seed, name):
        d = os.path.join(self.tmp, name)
        os.makedirs(d)
        return gen.GENERATORS[workload](seed, d, SMALL[workload]), d


class GeneratorTest(TempDirCase):
    def test_same_seed_same_bytes(self):
        for w in gen.GENERATORS:
            _, a = self.generate(w, 7, f"{w}-a")
            _, b = self.generate(w, 7, f"{w}-b")
            _, c = self.generate(w, 8, f"{w}-c")
            self.assertEqual(tree_bytes(a), tree_bytes(b), w)
            self.assertNotEqual(tree_bytes(a), tree_bytes(c), w)

    def test_sizes_recorded(self):
        truth, d = self.generate("mapreduce", 1, "mr")
        corpus = os.path.join(d, "corpus")
        on_disk = sum(os.path.getsize(os.path.join(corpus, f)) for f in os.listdir(corpus))
        self.assertEqual(truth["bytes"], on_disk)
        self.assertEqual(truth["tokens"], sum(truth["counts"].values()))
        self.assertEqual(truth["distinct_words"], len(truth["counts"]))
        truth, d = self.generate("dedup", 1, "dd")
        self.assertGreater(len(truth["exact_copies"]), 0)
        self.assertGreater(truth["near_copies"], 0)
        self.assertGreater(len(truth["fresh"]), 0)
        with open(os.path.join(d, "docs.jsonl")) as f:
            docs = [json.loads(line)["text"].split(" ") for line in f]
        for i in truth["fresh"]:  # the quality gate's stopword floor is 1%
            self.assertGreaterEqual(sum(w in gen.STOPWORDS for w in docs[i]) / len(docs[i]), 0.02)
        truth, d = self.generate("lake", 1, "lk")
        with open(os.path.join(d, "script.tsv")) as f:
            script = [line.rstrip("\n").split("\t") for line in f]
        self.assertEqual(len(script), len(gen.LAKE_SETUP) + 3 * len(gen.LAKE_CYCLE))
        self.assertEqual(len(truth["hashes"]), 3)
        self.assertEqual(len(truth["reads"]), 3 * sum(k.startswith("select") for k in gen.LAKE_CYCLE))
        batches = sum(os.path.getsize(os.path.join(d, "batches", b)) for _, _, _, _, b in script if b)
        self.assertEqual(truth["bytes"], batches)


class StatisticsTest(unittest.TestCase):
    def test_median_over_stated_samples(self):
        walls = [2.0, 4.0, 1.0, 8.0, 5.0]
        result = {"peak_rss_kb": 2048, "iterations": [
            {"index": i, "traced": False, "wall_s": w} for i, w in enumerate(walls)
        ] + [{"index": 5, "traced": False, "wall_s": 0.1, "error": "boom"}]}
        e2e = metrics.end_to_end({"mb": 8.0}, result, 3.5)
        self.assertEqual(e2e["throughput_mb_s"], (2.0, 5))  # median of 8/w, error left out
        self.assertEqual(e2e["setup_s"], (3.5, 1))
        self.assertEqual(e2e["peak_rss_mb"], (2.0, 1))
        self.assertEqual(list(e2e), [n for n, *_ in metrics.END_TO_END])

    def test_percentiles_over_stated_samples(self):
        self.assertEqual(metrics.p95([float(i) for i in range(1, 21)]), 19.05)
        self.assertEqual(metrics.p95([3.0]), 3.0)
        truth = {"cycle_mb": [1.0, 2.0, 4.0]}
        ops = [{"kind": "insert", "wall_s": 0.5}, {"kind": "select_point", "wall_s": 0.25},
               {"kind": "compact", "wall_s": 1.5}, {"kind": "select_range", "wall_s": 0.75}]
        result = {"cycles_run": 3, "table_bytes": 14e6, "peak_rss_kb": 1024, "iterations": [
            {"index": 0, "traced": False, "wall_s": 2.0, "cycle": 1, "ops": ops},
            {"index": 1, "traced": True, "wall_s": 1.0, "cycle": 2, "ops": ops * 2}]}
        e2e = metrics.end_to_end(truth, result, 1.0)
        self.assertEqual(e2e["throughput_mb_s"], (2.5, 2))  # median of 2/2 and 4/1
        lake = metrics.lake_statements(truth, result)  # untraced iterations only
        self.assertEqual(lake["write_s_p50"], (1.0, 2))
        self.assertEqual(lake["read_s_p50"], (0.5, 2))
        self.assertEqual(lake["read_s_p95"], (0.725, 2))
        self.assertEqual(lake["stored_bytes_per_user_byte"], (2.0, 3))

    def test_phase_self_times_and_unaccounted(self):
        s = 1_000_000_000

        def span(i, parent, name, start, end):
            return {"id": i, "parent": parent, "name": name, "iter": 1,
                    "start_ns": start * s, "end_ns": end * s}
        spans = [span(0, -1, "iter", 0, 10), span(1, 0, "step:wc", 0, 9),
                 span(2, 1, "build", 0, 4), span(3, 2, "ext.M.f", 0, 4),
                 span(4, 1, "plan", 4, 5), span(5, 1, "exec", 5, 9)]
        self.assertEqual(metrics.self_times(spans)[2], 4.0)  # module spans are not layers
        result = {"iterations": [
            {"index": 0, "traced": False, "wall_s": 9.0, "counters": {}},
            {"index": 1, "traced": True, "wall_s": 10.0, "gc_s": 0.25, "counters": {
                "bench:w:wc:build": {"jobs": 3, "block_bytes": 2 * 1024 * 1024},
                "bench:w:wc:exec": {"jobs": 1, "peak_exec_mem_bytes": 5}}},
            {"index": 2, "traced": False, "wall_s": 11.0, "counters": {}}],
            "plans": [{"iter": 1, "step": "wc", "bytes": 2048, "exchanges": 2}],
            "tokens_probe": {"tokens": 100, "seconds": 0.5}}
        v = metrics.layers(result, spans)
        self.assertEqual((v["build.s"], v["plan.s"], v["exec.s"]), (4.0, 1.0, 4.0))
        self.assertAlmostEqual(v["unaccounted.s"], 1.0)
        self.assertEqual(v["gc.s"], 0.25)
        self.assertEqual((v["build.jobs"], v["exec.jobs"]), (3, 1))
        self.assertEqual(v["core.Checkpoints.checkpoint_mb"], 2.0)
        self.assertEqual((v["plan.kb"], v["plan.exchanges"]), (2.0, 2))
        self.assertEqual(v["trace.overhead_ratio"], 0.0)  # 10 against (9 + 11) / 2
        self.assertEqual(v["text.Tokenize.tokens_per_s"], 200.0)
        self.assertEqual(set(v), {n for n, *_ in metrics.LAYERS})
        self.assertEqual(metrics.module_calls(result, spans), {"ext.M.f": (4.0, 1)})

    def test_layer_spans_under_a_module_span(self):
        s = 1_000_000_000
        spans = [{"id": i, "parent": p, "name": n, "iter": 1, "start_ns": a * s, "end_ns": b * s}
                 for i, p, n, a, b in [(0, -1, "iter", 0, 10), (1, 0, "sources.L.select", 1, 9),
                                       (2, 1, "step:select", 1, 9), (3, 2, "build", 1, 2),
                                       (4, 2, "exec", 2, 8)]]
        selfs = metrics.self_times(spans)
        self.assertEqual((selfs[0], selfs[2], selfs[4]), (2.0, 1.0, 6.0))


class NamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_names_and_units(self):
        names = [n for n, *_ in metrics.END_TO_END + metrics.LAYERS] + list(metrics.WORKLOADS)
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        for _, unit, better, *_ in metrics.END_TO_END + metrics.LAYERS:
            self.assertRegex(unit, UNIT)
            self.assertIn(better, ("higher", "lower"))

    def test_benchmark_json_matches(self):
        b = self.bench
        self.assertEqual([w["name"] for w in b["workloads"]], list(metrics.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         [tuple(x[:3]) for x in metrics.LAYERS])
        bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])
        self.assertLessEqual(bounds["setup_s"], 0.25)

    def test_layer_map_documented(self):
        with open(os.path.join(HERE, "README.md")) as f:
            readme = f.read()
        for name, *_ in metrics.LAYERS:
            self.assertIn(f"`{name}`", readme)


class ChecksTest(TempDirCase):
    def write_sink(self, d, lines):
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.txt"), "w") as f:
            f.writelines(f"{k} - [{v}]\n" for k, v in lines)

    def mapreduce_outputs(self, truth, name, corrupt=None):
        d = os.path.join(self.tmp, name, "iter-0")
        counts = dict(truth["counts"])
        index = {w: json.dumps({"part-00.txt": c}, separators=(",", ":"))
                 for w, c in counts.items()}
        if corrupt == "count":
            w = sorted(counts)[0]
            counts[w] += 1
        if corrupt == "posting":
            w = sorted(index)[-1]
            index[w] = json.dumps({"part-00.txt": truth["counts"][w] - 1})
        self.write_sink(os.path.join(d, "wc"), sorted(counts.items()))
        self.write_sink(os.path.join(d, "id"), sorted(index.items()))
        return os.path.join(self.tmp, name)

    def test_mapreduce(self):
        truth, _ = self.generate("mapreduce", 3, "in")
        it = [{"index": 0}]
        ok = self.mapreduce_outputs(truth, "ok")
        self.assertEqual(checks.check_mapreduce(ok, truth, it), (2, []))
        for corrupt in ("count", "posting"):
            out = self.mapreduce_outputs(truth, corrupt, corrupt)
            attempted, failures = checks.check_mapreduce(out, truth, it)
            self.assertEqual((attempted, len(failures)), (2, 1), corrupt)

    def test_mapreduce_missing_output(self):
        truth, _ = self.generate("mapreduce", 3, "in")
        self.assertEqual(len(checks.check_mapreduce(self.tmp, truth, [{"index": 9}])[1]), 2)

    def write_kept(self, name, ids):
        d = os.path.join(self.tmp, name)
        os.makedirs(d)
        with open(os.path.join(d, "kept.txt"), "w") as f:
            f.writelines(f"{i}\n" for i in ids)

    def test_dedup(self):
        truth, _ = self.generate("dedup", 3, "in")
        copies, fresh = set(truth["exact_copies"]), sorted(truth["fresh"])
        other = min(set(range(truth["docs"])) - copies - set(fresh))
        self.write_kept("iter-0", fresh)
        self.write_kept("iter-1", fresh)
        self.write_kept("iter-2", fresh + [other])
        self.write_kept("iter-3", fresh + [min(copies)])
        self.write_kept("iter-4", [])
        self.write_kept("iter-5", fresh[:-1])
        both = [{"index": 0}, {"index": 1}]
        self.assertEqual(checks.check_dedup(self.tmp, truth, both), (2, []))
        _, failures = checks.check_dedup(self.tmp, truth, both + [{"index": 2}])
        self.assertEqual(len(failures), 1)  # kept count differs
        for i in (3, 4, 5):  # an exact copy kept; nothing kept; a fresh original dropped
            _, failures = checks.check_dedup(self.tmp, truth, [{"index": i}])
            self.assertEqual(len(failures), 1, i)

    def lake_outputs(self, truth, name, corrupt=None):
        """What the harness leaves after running cycle 1 of the script as
        iteration 0: its selects' rows and the final table."""
        out = os.path.join(self.tmp, name)
        os.makedirs(os.path.join(out, "iter-0"))
        n = len(gen.LAKE_CYCLE)
        ops = [{"op": n + j, "kind": k} for j, k in enumerate(gen.LAKE_CYCLE)]
        with open(os.path.join(out, "iter-0", "reads.tsv"), "w") as f:
            for o in ops:
                if o["kind"] in gen.LAKE_WRITES:
                    continue
                rows = truth["reads"][str(o["op"])]
                if corrupt == "read" and rows:
                    rows, corrupt = rows[1:], None
                f.write(f"#{o['op']}\t{len(rows)}\n")
                f.writelines(f"{i}\t{m}\t{t}\n" for i, m, t in rows)
        with open(os.path.join(self.tmp, "in", "truth.json")) as f:
            final = truth["hashes"][1]
        with open(os.path.join(out, "final.tsv"), "w") as f:
            f.write("" if corrupt == "final" else "".join(
                f"{i}\t{m}\t{t}\n" for i, m, t in self.model_after(1)))
        self.assertTrue(final)
        return out, {"cycles_run": 2, "iterations": [
            {"index": 0, "traced": False, "cycle": 1, "ops": ops}]}

    def model_after(self, cycle):
        """The model's rows after `cycle`, rebuilt from the script and batches."""
        d = os.path.join(self.tmp, "in")
        model = {}
        with open(os.path.join(d, "script.tsv")) as f:
            for line in f:
                c, _, kind, sql, batch = line.rstrip("\n").split("\t")
                if int(c) > cycle or int(c) < 0:
                    continue
                if batch:
                    with open(os.path.join(d, "batches", batch)) as b:
                        for r in map(json.loads, b):
                            model[r["doc_id"]] = r["text"]
                elif kind == "delete":
                    lo, hi = map(int, re.findall(r"\d+", sql)[-2:])
                    for i in range(lo, hi + 1):
                        model.pop(i, None)
        return sorted((i, t.count(" ") + 1, t) for i, t in model.items())

    def test_lake(self):
        truth, _ = self.generate("lake", 3, "in")
        self.assertEqual(gen.content_hash(self.model_after(1)), truth["hashes"][1])
        per = len(gen.LAKE_CYCLE)
        out, result = self.lake_outputs(truth, "ok")
        self.assertEqual(checks.check("lake", out, truth, result), (per + 1, []))
        for corrupt in ("read", "final"):
            out, result = self.lake_outputs(truth, corrupt, corrupt)
            attempted, failures = checks.check("lake", out, truth, result)
            self.assertEqual((attempted, len(failures)), (per + 1, 1), corrupt)

    def test_errored_iteration_counts_its_operations(self):
        truth, _ = self.generate("mapreduce", 3, "in")
        ok = self.mapreduce_outputs(truth, "ok")
        result = {"iterations": [{"index": 0}, {"index": 1, "error": "boom"}]}
        attempted, failures = checks.check("mapreduce", ok, truth, result)
        self.assertEqual((attempted, len(failures)), (4, 2))


if __name__ == "__main__":
    unittest.main()

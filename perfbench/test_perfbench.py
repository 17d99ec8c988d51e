"""Tests of the benchmark's own code: the seeded generators and the metric
arithmetic. No JVM is needed.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import csv
import filecmp
import json
import math
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TEST_DIR = os.path.join(ROOT, ".bench_build", "tests")


def lines(path):
    with open(path) as f:
        return f.read().splitlines()


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files,
                                           shallow=False)
    return not mismatch and not errors


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(TEST_DIR, exist_ok=True)
        cls.dir = tempfile.mkdtemp(dir=TEST_DIR)
        cls.out = {}
        for w in ("varinfo", "ingest"):
            for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                d = os.path.join(cls.dir, f"{w}-{tag}")
                if w == "varinfo":
                    gen.write_varinfo(seed, d, variants=3)
                else:
                    gen.generate(w, seed, d)
                cls.out[w, tag] = d

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)

    def test_same_seed_gives_identical_bytes(self):
        for w in ("varinfo", "ingest"):
            self.assertTrue(same_tree(self.out[w, "a"], self.out[w, "b"]), w)

    def test_different_seeds_give_different_inputs(self):
        for w in ("varinfo", "ingest"):
            self.assertFalse(same_tree(self.out[w, "a"], self.out[w, "c"]), w)

    def _varinfo(self, k):
        d = self.out["varinfo", "a"]
        with open(os.path.join(d, "codebook.csv"), newline="") as f:
            rows = list(csv.DictReader(f))
        with open(os.path.join(d, f"survey-{k}.csv"), newline="") as f:
            r = csv.reader(f)
            names, texts = next(r), next(r)
        truth = dict(line.split("\t")
                     for line in lines(os.path.join(d, f"truth-{k}.tsv")))
        new = set(lines(os.path.join(d, f"new-{k}.txt")))
        return rows, dict(zip(names, texts)), truth, new

    def test_codebook_has_the_fixture_schema(self):
        rows, _, _, _ = self._varinfo(0)
        self.assertEqual(list(rows[0].keys()), gen.CODEBOOK_COLUMNS)
        self.assertEqual(len(rows), 420 * gen.VARINFO_SCALE)
        kinds = {r["ITEM_TYPE"] for r in rows}
        self.assertTrue({"metadata", "administrative"} <= kinds)
        self.assertIn("CONSENT", {r["ITEM_NAME"] for r in rows})
        self.assertTrue(any("\n" in r["QuestionText.2023"] for r in rows))
        self.assertTrue(any(" - " in r["QuestionText.2023"] for r in rows))

    def test_planted_matches_agree_with_ground_truth(self):
        """The planted variable is the unique best text match within the
        join's distance bound, or — when no text is that close — the
        variable of the same name; rows with neither join to nothing."""
        for k in range(3):
            rows, survey, truth, new = self._varinfo(k)
            names = list(survey)
            pool = gen.TextPool([survey[n] for n in names])
            self.assertEqual(set(truth), {r["ITEM_NAME"] for r in rows})
            for r in rows:
                text = r["QuestionText.2023"]
                text = "" if text == "NA" else text
                close = pool.close_to(text, gen.MAX_EDIT + 1) if text else []
                dist = {names[j]: gen.levenshtein(text, survey[names[j]])
                        for j in close}
                want = truth[r["ITEM_NAME"]]
                if dist:
                    best = min(dist.values())
                    winners = [n for n, v in dist.items() if v == best]
                    self.assertEqual(winners, [want], r["ITEM_NAME"])
                elif r["ITEM_NAME"] in survey:
                    self.assertEqual(want, r["ITEM_NAME"])
                else:
                    self.assertEqual(want, "", r["ITEM_NAME"])
            matched = set(truth.values())
            self.assertEqual(new, set(survey) - matched)
            self.assertTrue(new and not new & {r["ITEM_NAME"] for r in rows})
            kinds = {r["ITEM_NAME"]: r for r in rows}
            edited = [n for n, v in truth.items() if v and survey[v] !=
                      kinds[n]["QuestionText.2023"] and n != v]
            self.assertTrue(edited, "some rows need the fuzzy join")

    def test_ingest_planted_items_match_their_sources(self):
        d = self.out["ingest", "a"]
        items = {}
        for name in os.listdir(d):
            if name.endswith("docs.tsv") or name.endswith("vecs.tsv"):
                side = "doc" if "docs" in name else "vec"
                for line in lines(os.path.join(d, name)):
                    i, v = line.split("\t")
                    items[side, int(i)] = v
        kinds = set()
        for line in lines(os.path.join(d, "planted.tsv")):
            kind, i, srcs = line.split("\t")
            kinds.add(kind)
            srcs = [int(s) for s in srcs.split(",")]
            self.assertTrue(all(s < int(i) or s >= gen.SEED_ID_BASE
                                for s in srcs), "sources come earlier")
            side = "vec" if kind.startswith("v") else "doc"
            got, src = items[side, int(i)], items[side, srcs[0]]
            if kind in ("exact", "vexact"):
                self.assertEqual(got, src)
            elif kind == "near":
                a, b = got.split(), src.split()
                self.assertEqual(len(a), len(b))
                self.assertLessEqual(sum(x != y for x, y in zip(a, b)), 2)
            elif kind == "stitch":
                a, b = src.split(), items["doc", srcs[1]].split()
                self.assertEqual(got.split(),
                                 a[:len(a) // 2] + b[len(b) // 2:])
            else:
                u = [float(x) for x in got.split()]
                v = [float(x) for x in src.split()]
                cos = sum(x * y for x, y in zip(u, v)) / math.sqrt(
                    sum(x * x for x in u) * sum(y * y for y in v))
                self.assertGreater(cos, 0.95)
                self.assertEqual([x >= 0 for x in u[:8]], [x >= 0 for x in v[:8]])
        self.assertEqual(kinds, {"exact", "near", "stitch", "vexact", "vnear"})


class MetricsTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(list(range(10))))
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail(xs), (90, 90, 10))
        self.assertEqual(metrics.tail(list(range(1, 21))), (10, 50, 10))
        # 11 samples: only the 9th percentile has ten samples above it
        self.assertEqual(metrics.tail(list(range(1, 12))), (1, 9, 10))
        self.assertEqual(metrics.tail(list(reversed(xs))), (90, 90, 10))

    def test_covered_is_the_union_clipped_to_the_window(self):
        self.assertEqual(metrics.covered([], 0, 10), 0)
        self.assertEqual(metrics.covered([(2, 4), (3, 6), (8, 20)], 0, 10), 6)
        self.assertEqual(metrics.covered([(-5, 1), (1, 2)], 0, 10), 2)
        self.assertEqual(metrics.covered([(0, 10), (2, 3)], 0, 10), 10)

    def test_self_time_subtracts_the_union_of_direct_children(self):
        def span(i, parent, a, b):
            return {"id": i, "parent": parent, "start": a, "end": b}
        spans = [span(0, -1, 0, 100),
                 span(1, 0, 10, 30), span(2, 0, 20, 40),  # overlapping kids
                 span(3, 1, 12, 28),                     # grandchild
                 span(4, 0, 90, 120)]                    # runs past the end
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 100 - 30 - 10)
        self.assertEqual(st[1], 20 - 16)
        self.assertEqual(st[2], 20)
        self.assertEqual(st[3], 16)
        self.assertEqual(st[4], 30)

    def _record(self):
        spans = [
            {"id": 0, "parent": -1, "name": "unit", "unit": 1,
             "start": 0.0, "end": 10000.0},
            {"id": 1, "parent": 0, "name": "text_batch", "unit": 1,
             "start": 0.0, "end": 6000.0},
            {"id": 2, "parent": 1, "name": "streaming.text_batch", "unit": 1,
             "start": 1000.0, "end": 6000.0},
        ]
        jobs = [{"id": 0, "tag": "2", "start": 1000, "end": 2000},
                {"id": 1, "tag": "2", "start": 1500, "end": 3000},
                {"id": 2, "tag": None, "start": 7000, "end": 7100},
                {"id": 3, "tag": "check", "start": 11000, "end": 11100}]
        stages = [{"id": 0, "tag": "2", "tasks": 4, "cpu_s": 1.5,
                   "sw_records": 10, "sw_bytes": 100, "spill_bytes": 0,
                   "input_bytes": 5}]
        return {"spans": spans, "spark": {"jobs": jobs, "stages": stages},
                "units": [{"i": 0, "traced": False, "gc_s": 0.1},
                          {"i": 1, "traced": True, "gc_s": 0.2},
                          {"i": 2, "traced": False, "gc_s": 0.1}],
                "ops": [{"unit": 0, "name": "text_batch", "s": 9.0},
                        {"unit": 1, "name": "text_batch", "s": 4.0},
                        {"unit": 1, "name": "read", "s": 2.0},
                        {"unit": 2, "name": "text_batch", "s": 3.0},
                        {"unit": 2, "name": "read", "s": 2.0}],
                "extra": {"text_files_written": [{"unit": 1, "n": 7}]},
                "files_written": [{"unit": 1, "n": 7}],
                "setups_s": [3.0, 1.0, 1.2], "main_op": "text_batch",
                "peak_rss_mb": 100.0}

    def test_layer_detail_attributes_jobs_through_span_tags(self):
        m = metrics.layer_detail(self._record())
        self.assertEqual(m["streaming.text_jobs_per_batch"], 2)
        self.assertEqual(m["streaming.text_stages_per_batch"], 1)
        self.assertEqual(m["streaming.text_exec_cpu_s_per_batch"], 1.5)
        # 5 s span, its jobs cover 1.0..3.0 s of it
        self.assertEqual(m["streaming.text_driver_s_per_batch"], 3.0)
        self.assertEqual(m["streaming.text_files_written_per_batch"], 7)
        self.assertEqual(m["pipeline.join_varinfo_s"], 0)
        self.assertEqual(set(metrics.LAYER_DETAIL), set(m))

    def test_per_layer_counts_untagged_jobs_and_overhead(self):
        m = metrics.per_layer(self._record())
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["spark.exec_cpu_s"], 1.5)
        self.assertEqual(m["main.jobs"], 2)
        self.assertEqual(m["main.busy_cores"], 1.5 / 6)
        # the 10 s unit, its jobs cover 1.0..3.0 s
        self.assertEqual(m["driver.outside_jobs_s"], 8.0)
        self.assertEqual(m["streaming.text_jobs_per_batch"], 2)
        self.assertEqual(m["io.files_written"], 7)
        self.assertEqual(m["jvm.gc_s"], 0.2)
        self.assertEqual(m["spark.untagged_jobs"], 1)
        self.assertAlmostEqual(m["trace.overhead_frac"], 6.0 / 5.0 - 1)
        self.assertEqual({n for n, _ in metrics.PER_LAYER}, set(m))

    def test_end_to_end_uses_warm_units_and_setup_median(self):
        m = metrics.end_to_end(self._record())
        self.assertEqual(m["setup_s"], 1.2)
        self.assertEqual(m["cold_s"], 9.0)
        self.assertEqual(m["iter_p50_s"], 5.5)
        self.assertEqual(m["main_p50_s"], 3.5)
        self.assertEqual(m["rest_p50_s"], 2.0)
        self.assertEqual(m["peak_rss_mb"], 100.0)
        self.assertTrue({n for n, _ in metrics.END_TO_END} <= set(m))

    def test_per_layer_leaves_compacting_ticks_out_of_overhead(self):
        r = self._record()
        r["units"].append({"i": 3, "traced": False, "gc_s": 0.1})
        r["ops"] += [{"unit": 3, "name": "text_batch", "s": 1.0},
                     {"unit": 3, "name": "read", "s": 1.0}]
        r["extra"]["compact_units"] = [2]
        m = metrics.per_layer(r)
        self.assertAlmostEqual(m["trace.overhead_frac"], 6.0 / 2.0 - 1)

    def test_layer_detail_keeps_compacting_ticks_for_compaction_only(self):
        r = self._record()
        r["extra"]["compact_units"] = [1]
        r["spans"].append({"id": 3, "parent": 1, "name": "streaming.compact",
                           "unit": 1, "start": 500.0, "end": 1000.0})
        r["spark"]["jobs"].append({"id": 4, "tag": "3", "start": 600,
                                   "end": 700})
        m = metrics.layer_detail(r)
        self.assertEqual(m["streaming.compact_s"], 0.5)
        self.assertEqual(m["streaming.compact_jobs"], 1)
        self.assertEqual(m["streaming.text_jobs_per_batch"], 0)
        self.assertEqual(m["streaming.text_files_written_per_batch"], 0)

    def test_end_to_end_leaves_compacting_ticks_out(self):
        r = self._record()
        r["extra"]["compact_units"] = [2]
        m = metrics.end_to_end(r)
        self.assertEqual(m["iter_p50_s"], 6.0)
        self.assertEqual(m["main_p50_s"], 4.0)

    def test_benchmark_json_names_the_printed_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        for key, names in (("end_to_end", metrics.END_TO_END),
                           ("per_layer", metrics.PER_LAYER)):
            self.assertEqual([(m["name"], m["unit"]) for m in b[key]],
                             list(names))


if __name__ == "__main__":
    unittest.main()

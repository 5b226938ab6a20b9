"""Tests of the benchmark itself, run from the repository root:

    python3 -m unittest discover -s perfbench/tests

The generator must write byte-identical inputs for a seed, and the
verifiers must reject deliberately corrupted outputs.
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import gen  # noqa: E402
import verify  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

SMALL = {
    "drugbank_text": dict(drugs=40, concepts=40),
    "drugbank_ids": dict(drugs=80, concepts=20),
    "synonymizer_lookup": dict(nodes=20000, clusters=5000, names=4000,
                               requests=30),
}
SCRATCH = os.path.join(build.BUILD, "test")


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SmallSizes(unittest.TestCase):
    def setUp(self):
        self.sizes = dict(gen.SIZES)
        gen.SIZES.update(SMALL)
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        gen.SIZES.clear()
        gen.SIZES.update(self.sizes)

    def generate(self, workload, seed, name):
        out = os.path.join(SCRATCH, name)
        gen.generate(workload, seed, out)
        return out


class GeneratorTest(SmallSizes):
    def test_same_seed_gives_identical_bytes(self):
        for w in gen.WORKLOADS:
            a = tree_digest(self.generate(w, 7, w + "-a"))
            b = tree_digest(self.generate(w, 7, w + "-b"))
            c = tree_digest(self.generate(w, 8, w + "-c"))
            self.assertEqual(a, b, w)
            self.assertNotEqual(a, c, w)

    def test_planted_truth_covers_every_case(self):
        for w in ("drugbank_text", "drugbank_ids"):
            t = gen.PipelineGen(w, 3).generate(os.path.join(SCRATCH, w))
            for k in ("unresolved", "duplicate_kg2_ids", "first_wins_collisions",
                      "longest_wins_contests", "ids_gated_by_colon",
                      "names_aligned", "ids_aligned", "mech1_entries"):
                self.assertGreater(t[k], 0, (w, k))
            with open(os.path.join(SCRATCH, w, "expected", "records.jsonl")) as f:
                self.assertEqual(sum(1 for _ in f), t["records"])

    def test_ner_model_follows_the_sentence_contract(self):
        d = {"qabcde": [("X:1", "biolink:Disease")],
             "qabcdeqfghij": [("X:1", "biolink:Disease")]}
        cats = {"biolink:Disease"}
        hits, contests = gen.ner_hits(
            "Too short qabcde. It binds the qabcde " + "a" * 120 +
            " qfghij target well.", d, cats)
        self.assertEqual(hits, {"X:1": ("qabcde qfghij", "biolink:Disease")})
        self.assertEqual(contests, 1)
        self.assertEqual(gen.ner_hits("x" * 990 + " qabcde more words.", d, cats)[0], {})


class VerifierTest(SmallSizes):
    def jvm(self, main, args):
        build.build()
        tmp = os.path.join(SCRATCH, "tmp")
        os.makedirs(tmp, exist_ok=True)
        return subprocess.run(build.java(main, args, tmp), stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=600)

    def test_pipeline_verifier_rejects_corrupted_sinks(self):
        data = self.generate("drugbank_text", 5, "text")
        work = os.path.join(SCRATCH, "work")
        proc = self.jvm("perfbench.Main", [
            "--workload", "drugbank_text", "--seed", "5", "--seconds", "0",
            "--trace", "0", "--data", data, "--work", work])
        self.assertEqual(proc.returncode, 0, proc.stdout)
        good = os.path.join(work, "out-run0")
        self.assertEqual(verify.mismatches(data, good), 0)

        def corrupted(name, sink, edit):
            bad = os.path.join(SCRATCH, name)
            shutil.copytree(good, bad)
            edit(os.path.join(bad, sink))
            self.assertGreater(verify.mismatches(data, bad), 0, name)

        def drop_entry(path):
            part = glob.glob(os.path.join(path, "part-*.parquet"))[0]
            table = pq.read_table(part)
            rows = table.to_pylist()
            victim = next(r for r in rows if len(r["mechanistic_intermediate_nodes"]) > 1)
            victim["mechanistic_intermediate_nodes"].pop(0)
            pq.write_table(pa.Table.from_pylist(rows, schema=table.schema), part)

        def edit_json(change):
            def edit(path):
                part = sorted(glob.glob(os.path.join(path, "part-*")))[0]
                with open(part) as f:
                    lines = f.read().splitlines()
                with open(part, "w") as f:
                    f.write("\n".join(change(lines)) + "\n")
            return edit

        def rename(lines):
            row = json.loads(lines[0])
            row["name"] = "wrong"
            return [json.dumps(row)] + lines[1:]

        corrupted("dropped-entry", "stage2.parquet", drop_entry)
        corrupted("renamed-record", "stage1.json", edit_json(rename))
        corrupted("duplicated-record", "stage2.json", edit_json(lambda ls: ls + ls[:1]))
        corrupted("missing-record", "stage1.json", edit_json(lambda ls: ls[1:]))

    def test_lookup_verifier_rejects_wrong_answers(self):
        data = self.generate("synonymizer_lookup", 5, "lookup")
        proc = self.jvm("perfbench.SelfTest", [data, os.path.join(SCRATCH, "work")])
        print(proc.stdout)
        self.assertEqual(proc.returncode, 0, proc.stdout)
        self.assertIn("ok   verifier rejects a wrong suffixSearch answer", proc.stdout)
        self.assertNotIn("FAIL", proc.stdout)


if __name__ == "__main__":
    unittest.main()

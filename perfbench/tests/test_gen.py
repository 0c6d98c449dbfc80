"""The seeded generators: same seed, same bytes; other seed, other bytes.

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d)
            return tree_digest(d)

    def test_same_seed_byte_identical(self):
        for w in list(gen.GENERATORS) + ["store"]:
            with self.subTest(workload=w):
                self.assertEqual(self.digest(w, 7), self.digest(w, 7))

    def test_other_seed_other_inputs(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                self.assertNotEqual(self.digest(w, 7), self.digest(w, 8))

    def test_store_is_seed_free(self):
        # agent_session's prebuilt store takes no seed; the sessions'
        # logs and call arguments follow the seed
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            pa = gen.generate("agent_session", 3, a)
            pb = gen.generate("agent_session", 4, b)
            self.assertNotEqual(pa["sessions"], pb["sessions"])
        self.assertEqual(self.digest("store", 3), self.digest("store", 4))

    def test_logs_are_fixture_copies(self):
        # a log is whole copies of one fixture, and its planted tallies
        # are the copies times the fixture's measured counts
        with tempfile.TemporaryDirectory() as d:
            plan = gen.generate("log_ingest", 5, d)
            logs = [o["log"] for o in plan["ops"] if o["kind"] == "import"]
            logs += [f for o in plan["ops"] if o["kind"] == "import_dir"
                     for f in o["files"]]
            for log in logs:
                with self.subTest(log=log["path"]):
                    with open(os.path.join(d, log["path"]),
                              encoding="utf-8") as f:
                        text = f.read()
                    unit = gen.fixture_unit(log["fixture"])
                    self.assertEqual(text, unit * log["copies"])
                    row = gen.TABLE[log["fixture"]]
                    for c in ("events", "errors", "warnings"):
                        self.assertEqual(log[c], log["copies"] * row[c])

    def test_corpus_matches_the_fixtures(self):
        # every corpus fixture exists with the size it was measured at
        for name in gen.CORPUS:
            with self.subTest(fixture=name):
                gen.fixture_unit(name)
        self.assertGreaterEqual(len(gen.CORPUS), gen.STORE_RUNS + gen.SESSIONS + 1)

    def test_log_ingest_cycles_have_one_mix(self):
        # every cycle imports one log per size stratum and one directory;
        # the 64 KB and 2 MB slots take a seed-independent fixture
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            pa = gen.generate("log_ingest", 1, a)
            pb = gen.generate("log_ingest", 2, b)

            def mix(p):
                return [(i // p["cycle"], o["kind"], o.get("stratum"),
                         o["log"]["fixture"] if o.get("stratum") else None)
                        for i, o in enumerate(p["ops"])]
            self.assertEqual(mix(pa), mix(pb))


if __name__ == "__main__":
    unittest.main()

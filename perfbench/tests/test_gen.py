"""Determinism of the seeded generators: the same seed gives identical
bytes, a different seed gives different bytes.

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402


def digest(path):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, name, fn):
        path = os.path.join(self.tmp.name, name)
        os.makedirs(path)
        fn(path)
        return digest(path)

    def check(self, fn):
        a = self.write("a", lambda p: fn(7, p))
        b = self.write("b", lambda p: fn(7, p))
        c = self.write("c", lambda p: fn(8, p))
        self.assertEqual(a, b, "same seed, different bytes")
        self.assertNotEqual(a, c, "different seed, same bytes")

    def test_backfill_script(self):
        self.check(lambda s, p: gen.write_script(gen.backfill_script(s, 200), os.path.join(p, "x.jsonl")))

    def test_live_script(self):
        self.check(lambda s, p: gen.write_script(gen.live_script(s, 120, 4.0), os.path.join(p, "x.jsonl")))

    def test_events_corpus(self):
        self.check(lambda s, p: gen.write_corpus(s, 1000, p))

    def test_decode_batch(self):
        import pyarrow.parquet as pq
        self.check(lambda s, p: pq.write_table(gen.decode_table(s, 50), os.path.join(p, "d.parquet")))

    def test_live_script_shape(self):
        lines = gen.live_script(3, 120, 4.0)
        heads = [m["block"] for m in lines if m["block"]]
        self.assertEqual(heads, list(range(1, 121)), "every block is made visible once, in order")
        self.assertTrue(any(m["t"] == "invalidate" for m in lines), "a reorg in 120 blocks")
        self.assertEqual(lines[-1]["t"], "heartbeat")
        self.assertEqual((lines[-2]["fin"], lines[-2]["blocks"][0][0]), ("accepted", 120))
        at = [m["at_ms"] for m in lines]
        self.assertEqual(at, sorted(at), "the schedule never goes back in time")

    def test_backfill_volume(self):
        msgs = gen.backfill_script(1, 1000)
        self.assertEqual(len(msgs), 40)
        self.assertEqual(sum(len(b[2]) for m in msgs for b in m["blocks"]), 40_000)


if __name__ == "__main__":
    unittest.main()

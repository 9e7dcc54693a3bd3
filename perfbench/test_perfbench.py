"""Tests of the benchmark's own generator, checker and metadata.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need Python with pyarrow, and no JVM: the checker is exercised on a
Parquet output written here from the generator's input by the documented
coercions, the way the target writes it.
"""

import datetime
import glob
import hashlib
import json
import os
import shutil
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
import run

HERE = os.path.dirname(os.path.abspath(__file__))


def digest(root):
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sizes(root):
    return sorted((os.path.relpath(p, root), os.path.getsize(p))
                  for p in glob.glob(os.path.join(root, "**", "*"), recursive=True)
                  if os.path.isfile(p) and not p.endswith("manifest.json"))


def coerce(kind, v):
    """The target's documented coercions of one wire value."""
    if kind == gen.T:
        try:
            return datetime.datetime.strptime(v, "%Y-%m-%dT%H:%M:%SZ").replace(
                tzinfo=datetime.timezone.utc)
        except ValueError:
            return None
    if kind in (gen.I, gen.N) and v == "":
        return None
    return v


ARROW = {gen.I: pa.int64(), gen.N: pa.float64(), gen.S: pa.string(),
         gen.T: pa.timestamp("us", tz="UTC")}


def write_target_output(inputs, out):
    """Write what a correct target writes for ``inputs``: one Parquet
    dataset per stream plus job_metrics.json. Returns the STATE echo."""
    rows, state = {}, None
    with open(os.path.join(inputs, "input.jsonl")) as f:
        for line in f:
            msg = json.loads(line)
            if msg["type"] == "RECORD":
                cols = gen.COLUMNS[msg["stream"]]
                rows.setdefault(msg["stream"], []).append(
                    [coerce(k, msg["record"][n]) for n, k in cols])
            elif msg["type"] == "STATE":
                state = msg["value"]
    for stream, rs in rows.items():
        cols = gen.COLUMNS[stream]
        d = os.path.join(out, "%s-20260101T000000.parquet" % stream)
        os.makedirs(d)
        table = pa.table({n: pa.array([r[i] for r in rs], ARROW[k])
                          for i, (n, k) in enumerate(cols)})
        pq.write_table(table, os.path.join(d, "part-00000.parquet"))
    with open(os.path.join(out, "job_metrics.json"), "w") as f:
        json.dump({"recordCount": {s: len(rs) for s, rs in sorted(rows.items())}}, f)
    return json.dumps(state)


class Small(unittest.TestCase):
    """Runs the generator at reduced sizes to keep the tests fast."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.saved = (gen.TAP_SYNC_RECORDS, gen.DOCS)
        gen.TAP_SYNC_RECORDS, gen.DOCS = 3_000, 1_600

    def tearDown(self):
        gen.TAP_SYNC_RECORDS, gen.DOCS = self.saved
        shutil.rmtree(self.tmp)

    def path(self, *parts):
        return os.path.join(self.tmp, *parts)


class GeneratorTest(Small):
    def test_same_seed_writes_identical_inputs(self):
        for w in gen.WORKLOADS:
            gen.generate(w, 5, self.path(w, "a"))
            gen.generate(w, 5, self.path(w, "b"))
            self.assertEqual(digest(self.path(w, "a")), digest(self.path(w, "b")), w)

    def test_other_seeds_write_inputs_of_the_same_shape(self):
        for w in gen.WORKLOADS:
            a = gen.generate(w, 5, self.path(w, "a"))
            b = gen.generate(w, 6, self.path(w, "b"))
            self.assertNotEqual(digest(self.path(w, "a")), digest(self.path(w, "b")), w)
            self.assertEqual([p for p, _ in sizes(self.path(w, "a"))],
                             [p for p, _ in sizes(self.path(w, "b"))], w)
            self.assertEqual(a.get("record_counts"), b.get("record_counts"), w)

    def test_tap_sync_has_eight_streams_and_state(self):
        m = gen.generate("singer_tap_sync", 5, self.path("t"))
        self.assertEqual(len(m["streams"]), 8)
        self.assertEqual(sum(m["record_counts"].values()), gen.TAP_SYNC_RECORDS)
        self.assertIsNotNone(m["last_state"])
        self.assertEqual(len(os.listdir(self.path("t", "stream_in"))), gen.MICRO_BATCH_FILES)


class CheckerTest(Small):
    def setUp(self):
        super().setUp()
        self.manifest = gen.generate("singer_tap_sync", 9, self.path("in"))
        self.echo = write_target_output(self.path("in"), self.path("out"))

    def test_correct_output_passes(self):
        self.assertEqual(check.check_output(self.path("out"), self.manifest), [])
        self.assertEqual(check.check_state(self.echo, self.manifest), [])

    def test_one_dropped_row_fails(self):
        part = glob.glob(self.path("out", "orders-*.parquet", "*.parquet"))[0]
        table = pq.read_table(part)
        pq.write_table(table.slice(1), part)
        failures = check.check_output(self.path("out"), self.manifest)
        self.assertTrue(any("orders" in f for f in failures), failures)

    def test_changed_value_fails(self):
        part = glob.glob(self.path("out", "lineitem-*.parquet", "*.parquet"))[0]
        table = pq.read_table(part)
        col = table.column("l_quantity").to_pylist()
        col[0] = (col[0] or 0) + 1
        pq.write_table(table.set_column(4, "l_quantity", pa.array(col, pa.float64())), part)
        self.assertTrue(check.check_output(self.path("out"), self.manifest))

    def test_wrong_state_echo_fails(self):
        wrong = json.loads(self.echo)
        wrong["seq"] -= 1
        self.assertTrue(check.check_state(json.dumps(wrong), self.manifest))

    def test_wrong_job_metrics_fail(self):
        with open(self.path("out", "job_metrics.json"), "w") as f:
            json.dump({"recordCount": {"orders": 1}}, f)
        self.assertTrue(check.check_output(self.path("out"), self.manifest))


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]), sorted(gen.WORKLOADS))


if __name__ == "__main__":
    unittest.main()

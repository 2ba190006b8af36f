"""Tests of the benchmark: its arithmetic, its input generators, its
oracle, and a small smoke run of each workload.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke runs build the engine and start a JVM (about a minute each);
they are skipped when no Java or Spark jars are available.
"""
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 0), 1)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 100), 4)
        self.assertAlmostEqual(metrics.percentile(range(11), 90), 9.0)

    def test_tail_keeps_ten_samples_beyond(self):
        for n in (20, 30, 57, 100, 1000):
            xs = list(range(1, n + 1))
            v, p, count = metrics.tail(xs)
            self.assertEqual(count, n)
            self.assertAlmostEqual(p, 100 * (1 - 10 / n))
            self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_of_few_samples_is_the_median(self):
        v, p, n = metrics.tail([5.0, 1.0, 3.0])
        self.assertEqual((v, p, n), (3.0, 50.0, 3))

    def test_spread_is_quartile_distance_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(metrics.spread(xs), (q3 - q1) / 5.5)


def span(i, name, t0, t1, parent=-1, **attrs):
    return {"id": i, "parent": parent, "name": name, "t0": t0, "t1": t1, "attrs": attrs}


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(metrics.covered([(1, 3), (2, 5), (8, 9), (8.5, 9)]), 5)
        self.assertEqual(metrics.covered([]), 0)

    def test_self_time_clips_children_to_the_span(self):
        parent = span(0, "op", 0, 10)
        kids = [span(1, "a", 1, 3), span(2, "b", 2, 5), span(3, "c", 8, 12)]
        self.assertEqual(metrics.self_time(parent, kids), 10 - (4 + 2))

    def test_attach_by_job_group_and_time(self):
        spans = [span(0, "op", 0, 100, op=7), span(1, "op.exec", 10, 90, parent=0),
                 span(2, "spark.job", 20, 50, group="perfbench-op-7"),
                 span(3, "spark.stage", 21, 49, tasks=4),
                 span(4, "spark.job", 95, 99, group="other")]
        by_id = metrics.attach(spans)
        self.assertEqual(by_id[2]["parent"], 1)  # inside op.exec of op 7
        self.assertEqual(by_id[3]["parent"], 2)  # stage under its job
        self.assertEqual(by_id[4]["parent"], 0)  # no group: innermost by time
        selfs = metrics.self_times(by_id)
        self.assertEqual(selfs["op.exec"], 80 - 30)
        self.assertEqual(selfs["op"], 100 - 80 - 4)
        self.assertEqual(selfs["spark.job"], (30 - 28) + 4)


class Verdicts(unittest.TestCase):
    M = {"name": "pass_s", "better": "lower", "bound": 0.1}

    def test_verdicts(self):
        import compare
        parent = [10.0, 10.1, 10.2, 9.9, 10.0, 10.1, 9.8, 10.0, 10.2, 10.1]
        faster = [v * 0.8 for v in parent]
        self.assertEqual(compare.verdict(self.M, parent, faster, 10, 10), "improved")
        self.assertEqual(compare.verdict(self.M, parent, [v * 1.05 for v in parent], 0, 10),
                         "no worse")
        self.assertEqual(compare.verdict(self.M, parent, [v * 1.3 for v in parent], 0, 10), "worse")
        noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        self.assertEqual(compare.verdict(self.M, noisy, [v * 1.2 for v in noisy], 3, 10),
                         "unresolved")


class Inputs(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def test_same_seed_same_bytes(self):
        a = gen.epochs(os.path.join(self.dir, "a"), 5, 3, 80, 50)
        b = gen.epochs(os.path.join(self.dir, "b"), 5, 3, 80, 50)
        c = gen.epochs(os.path.join(self.dir, "c"), 6, 3, 80, 50)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertEqual(gen.corpus(os.path.join(self.dir, "d"), 5, 40, 30, 2),
                         gen.corpus(os.path.join(self.dir, "e"), 5, 40, 30, 2))

    def test_epochs_have_unique_keys_and_rising_times(self):
        import pyarrow.parquet as pq
        gen.epochs(self.dir, 9, 4, 200, 30)
        last = -1
        for e in range(4):
            t = pq.read_table(os.path.join(self.dir, f"epoch{e:05d}.parquet")).to_pylist()
            keys = [(r["user_id"], r["event_type"]) for r in t]
            self.assertEqual(len(keys), len(set(keys)))
            self.assertGreater(min(r["ts_us"] for r in t), last)
            last = max(r["ts_us"] for r in t)

    def test_replicas_share_no_shingle(self):
        import pyarrow.parquet as pq
        gen.corpus(self.dir, 3, 30, 20, 2)
        docs = pq.read_table(os.path.join(self.dir, "documents.parquet")).to_pylist()

        def grams(text):
            w = text.split(" ")
            return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}
        r0 = set().union(*(grams(d["text"]) for d in docs if d["doc_id"] < gen.REPLICA_SHIFT))
        r1 = set().union(*(grams(d["text"]) for d in docs if d["doc_id"] >= gen.REPLICA_SHIFT))
        self.assertFalse(r0 & r1)


class IngestOracle(unittest.TestCase):
    def test_last_writer_wins_with_tombstones_and_sessions(self):
        import duckdb
        con = duckdb.connect()
        gap = oracle.GAP_US
        rows = [  # user, type, seq, ts, cents, op, epoch
            (1, "click", 0, 0, 10, "upsert", 0),
            (2, "click", 1, 5, 20, "upsert", 0),
            (1, "click", 2, gap + 10, 11, "upsert", 1),
            (2, "click", 3, gap + 20, 0, "delete", 1),
            (2, "view", 4, 3 * gap, 30, "upsert", 2),
        ]
        con.execute("CREATE TABLE changes (user_id BIGINT, event_type VARCHAR, seq BIGINT, "
                    "ts_us BIGINT, cents BIGINT, op VARCHAR, epoch INTEGER)")
        con.executemany("INSERT INTO changes VALUES (?, ?, ?, ?, ?, ?, ?)", rows)
        reads = [{"id": "partition@1", "kind": "partition", "event_type": "click", "state_epoch": 1},
                 {"id": "range@0", "kind": "range", "lo": 2, "hi": 2, "state_epoch": 0}]
        got = oracle.ingest_expected(con, reads, 2)
        self.assertEqual(got["partition@1"], oracle.digest([(1, "click", 2, gap + 10, 11)]))
        self.assertEqual(got["range@0"], oracle.digest([(2, "click", 1, 5, 20)]))
        self.assertEqual(got["final_table@2"], oracle.digest(
            [(1, "click", 2, gap + 10, 11), (2, "view", 4, 3 * gap, 30)]))
        # user 1: 0 then gap+10 (> gap apart) -> 2 sessions; user 2: 5, gap+20
        # (exactly gap + 15 apart) -> 2, then 3*gap -> 3 sessions
        self.assertEqual(got["final_sessions@2"], oracle.digest([(1, 2, 2), (2, 3, 3)]))

    def test_digest_ignores_row_order(self):
        self.assertEqual(oracle.digest([(1, "a"), (2, "b")]), oracle.digest([(2, "b"), (1, "a")]))


def _have_toolchain():
    try:
        build.jars()
        return shutil.which("java") is not None
    except build.BuildError:
        return False


@unittest.skipUnless(_have_toolchain(), "needs java and the Spark jars")
class Smoke(unittest.TestCase):
    """Each workload at sf0.001-sized inputs for about a second."""

    def run_bench(self, workload, trace):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", "1", "--seconds", "1", "--trace", str(trace),
                            "--sf", "0.001"], capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def check(self, workload, trace):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        out = self.run_bench(workload, trace)
        self.assertTrue(out["correct"], out)
        self.assertGreaterEqual(out["attempted"], 1)
        self.assertEqual(out["failed"], 0)
        names = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
        self.assertEqual(set(out["metrics"]), names)
        if not trace:
            self.assertTrue(all(v["value"] > 0 for v in out["metrics"].values()), out)

    def test_batch_mix(self):
        self.check("batch_mix", 0)

    def test_batch_mix_traced(self):
        self.check("batch_mix", 1)

    def test_stream_ingest(self):
        self.check("stream_ingest", 0)

    def test_stream_ingest_traced(self):
        self.check("stream_ingest", 1)


if __name__ == "__main__":
    unittest.main()
